package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor index: coarse k-means
  * quantization assigns every vector to its nearest centroid; a query
  * probes only the `nprobe` nearest centroid lists and reranks exactly.
  *
  * The other scale path besides hyperplane LSH (Similarity.lshTopK):
  *  - build: KMeans fit on a driver-bounded SAMPLE (centroids are tiny —
  *    nlist × dim floats), then one narrow pass assigns list ids; persist
  *    or write the assigned table partitioned by list_id so probes prune.
  *  - query: read nprobe/nlist of the data (partition pruning when the
  *    index table is stored `partitionBy(list_id)`), exact cosine rerank.
  *
  * Recall/cost knobs: nlist (≈ sqrt(n) classically), nprobe.
  */
final class IvfIndex private (
    val assigned: DataFrame, // original columns + list_id
    val centroids: Array[(Int, Array[Double])],
    idCol: String,
    vecCol: String,
    /** Fraction of the normalized corpus' variance the coarse clustering
      * explains (k-means R², measured at build over ALL rows). The
      * structure stat [[autoNprobe]] adapts to; NaN on indexes saved
      * before the stat existed. */
    val clusterR2: Double) extends Serializable {

  /** Measured-structure probe rule (r17, calibrated on the RecallReport
    * panels): nprobe = ⌈nlist·(1−R²)²⌉ clamped to [1, nlist]. On a
    * corpus with real cluster structure (clustered panel R²≈0.28) this
    * probes ~5/8 lists at recall 1.0; on a structureless corpus
    * (isotropic panel R²≈0.05) it honestly degrades toward scanning all
    * lists — the documented correct behavior when there is no structure
    * to exploit (fixed nprobe=4 measured recall 0.77 there; the rule's
    * 8/8 measured 1.0). Unknown R² (old index) → nlist, the
    * conservative exact scan. */
  def autoNprobe: Int = IvfIndex.autoNprobe(centroids.length, clusterR2)

  /** Top-k by exact cosine among the `nprobe` nearest centroid lists.
    * `nprobe <= 0` (the default) picks [[autoNprobe]] from the measured
    * cluster structure. List selection ranks centroids by Euclidean
    * distance to the NORMALIZED probe — the same metric and space the
    * k-means assignment used — so "nearest lists" is exactly consistent
    * with how vectors were binned (a cosine ranking of non-unit centroids
    * could disagree). */
  def topK(probe: Array[Float], k: Int, nprobe: Int = -1): DataFrame = {
    // Fail fast on dimensionality mismatch — a truncated-prefix distance
    // would silently rank the wrong centroid lists.
    require(centroids.isEmpty || probe.length == centroids.head._2.length,
      s"probe dimensionality ${probe.length} != index dimensionality " +
        s"${centroids.head._2.length}")
    val pn = {
      val n = math.sqrt(probe.map(x => x.toDouble * x).sum).max(1e-12)
      probe.map(_.toDouble / n)
    }
    def dist2(c: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < math.min(c.length, pn.length)) {
        val d = c(i) - pn(i); s += d * d; i += 1
      }
      s
    }
    val np = if (nprobe <= 0) autoNprobe else nprobe
    val lists = centroids.sortBy { case (_, c) => dist2(c) }.take(np).map(_._1)
    assigned
      .filter(col("list_id").isin(lists.toSeq: _*)) // partition-prunable
      .select(
        col(idCol),
        round(Similarity.cosine(col(vecCol), array(probe.map(lit(_)): _*)), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Build-time drift baseline, carried from [[IvfIndex.build]] so save()
    * reuses the fused-stats job instead of re-aggregating; a LOADED index
    * (no baseline in hand) recomputes it on save as before. */
  private[operators] var buildMeanD: Option[Map[Int, Double]] = None

  /** Persist the index as a [[CommitLog]] store at `path`: the assigned
    * table lands under `data/` hive-partitioned by `list_id` (so a loaded
    * index's probes PRUNE to nprobe/nlist of the files on disk — the
    * read-side payoff of IVF), centroids + column names + per-list
    * build-time mean assignment distance (the drift baseline
    * [[IvfIndex.append]] checks against) under `centroids/`. Both tables
    * publish in ONE manifest, so a failed save leaves no half-written
    * index. An existing `path` is refused before anything is written.
    * Build once, query many, append incrementally. */
  def save(path: String): Unit = {
    val spark = assigned.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    IvfIndex.requireFreshPath(spark, root)
    import spark.implicits._
    val meanD = buildMeanD.getOrElse(
      IvfIndex.meanAssignDist2(assigned, vecCol, centroids))
    val staging = Swap.Suffix.staging(root, Swap.newTag())
    assigned.write.partitionBy("list_id").parquet(s"$staging/data")
    centroids.toSeq.map { case (i, c) =>
      (i, c, idCol, vecCol, meanD.getOrElse(i, Double.NaN), clusterR2)
    }
      .toDF("list_id", "centroid", "id_col", "vec_col", "mean_dist2",
        "cluster_r2")
      .coalesce(1).write.parquet(s"$staging/centroids")
    CommitLog.commitStaged(spark, root, staging, 0L, Nil,
      wholeStore = true, meta = Map("operation" -> "ivf-save"))
    ()
  }
}

object IvfIndex {

  /** Build the index. `sampleFraction` bounds the KMeans fit input — here
    * a fraction IS the right bound (unlike the driver-local fits in
    * [[Clustering.kmeansFit]]/[[IvfPqIndex.buildAndSave]], which need a
    * hard row cap): this fit runs DISTRIBUTED through MLlib, so the
    * fraction bounds cluster-time cost, never driver memory. At 100 TB
    * pass a small fraction; correctness doesn't depend on it.
    * Assignment of ALL rows is one narrow pass. */
  def build(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      sampleFraction: Double = 1.0,
      seed: Long = 42L): IvfIndex = {

    // Normalize before clustering so angular neighbors cluster together
    // (on unit vectors Euclidean distance is monotone in cosine:
    // |u-v|² = 2-2cosθ). topK then ranks centroid lists by Euclidean
    // distance to the normalized probe — the identical metric — so list
    // selection is exactly consistent with assignment. Rerank still uses
    // the original vectors. ml.Normalizer does the L2 scaling in one
    // vectorized pass (a Column-lambda formulation would re-fold the norm
    // aggregate per element after projection collapse — O(d²) per row).
    val withVec = new org.apache.spark.ml.feature.Normalizer()
      .setInputCol("graft_rawvec")
      .setOutputCol("graft_mlvec")
      .setP(2.0)
      .transform(df.withColumn("graft_rawvec", array_to_vector(col(vecCol))))
      .drop("graft_rawvec")
    val fitInput =
      if (sampleFraction >= 1.0) withVec else withVec.sample(sampleFraction, seed)

    val model = new KMeans()
      .setK(nlist)
      .setSeed(seed)
      .setFeaturesCol("graft_mlvec")
      .setPredictionCol("list_id")
      .fit(fitInput)

    val assigned = model.transform(withVec).drop("graft_mlvec").persist()
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (v: Vector, i) => (i, v.toArray) }
    // one job for r2 AND the save-time drift baseline (see buildStats)
    val (meanD, r2) = buildStats(assigned, vecCol, centroids)
    val idx = new IvfIndex(assigned, centroids, idCol, vecCol, r2)
    idx.buildMeanD = Some(meanD)
    idx
  }

  private val warnedLegacyR2 = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** The [[IvfIndex.autoNprobe]] rule, shared with [[IvfPqIndex]].
    * NaN R² (an index persisted before the cluster_r2 sidecar stat
    * existed) falls back to scanning ALL lists — recall-correct by
    * design, but a silent latency cliff on legacy stores, so the first
    * occurrence warns loudly (r17 ADVICE): rebuild or re-save the index
    * to restore list pruning. */
  private[operators] def autoNprobe(nlist: Int, r2: Double): Int =
    if (r2.isNaN) {
      if (warnedLegacyR2.compareAndSet(false, true)) {
        System.err.println(
          s"[graft] IVF autoNprobe: cluster R² unknown (index saved before " +
            s"the cluster_r2 sidecar stat) — scanning all $nlist lists for " +
            "exact recall. Rebuild or re-save the index to restore pruning.")
      }
      nlist
    } else math.min(nlist,
      math.max(1, math.ceil(nlist * math.pow(1.0 - r2, 2)).toInt))

  /** k-means R² over the NORMALIZED vectors: 1 − SSE_within/SSE_total.
    * For unit vectors SSE_total = E‖x−μ‖² = E‖x‖² − ‖μ‖² = 1 − ‖μ‖², so
    * the whole stat needs ONE global aggregate pass (count + within-sum
    * + the d component means) — no second scan, no join. Clamped to
    * [0, 1]; a degenerate corpus (all identical directions → total ≈ 0)
    * reports 1 (perfectly explained). */
  /** BOTH build-time stats — per-list mean assignment distance (the
    * append drift baseline) and global cluster R² — from ONE aggregate
    * job (r18-opt, guide §1.2: the build previously scanned the persisted
    * assigned frame once for [[clusterR2]] and AGAIN inside save() for
    * [[meanAssignDist2]]; a groupBy(list_id) carrying (n, Σd², per-dim
    * Σnvec) yields nlist tiny rows that combine to both numbers on the
    * driver). Value-identical to the two separate aggregates: per-list
    * mean = Σd²/n; global within = ΣΣd²/Σn; global component means =
    * per-list sums re-combined — same floating-point-safe shapes as the
    * originals (sum-then-divide, as avg() computes internally). */
  private[operators] def buildStats(
      assigned: DataFrame,
      vecCol: String,
      centroids: Array[(Int, Array[Double])]): (Map[Int, Double], Double) = {
    if (centroids.isEmpty) return (Map.empty, Double.NaN)
    val dim = centroids.head._2.length
    val centLit = typedLit(centroids.sortBy(_._1).map(_._2.toSeq).toSeq)
    val nv = if (assigned.columns.contains("graft_nvec")) col("graft_nvec")
             else nvecExpr(vecCol)
    val aggs: Seq[org.apache.spark.sql.Column] =
      sum(dist2Expr(col("graft_r2v"),
        element_at(centLit, col("list_id") + 1))).as("w") +:
        (0 until dim).map(j =>
          sum(element_at(col("graft_r2v"), j + 1)).as(s"graft_s$j"))
    val rows = assigned
      .select(col("list_id"), nv.as("graft_r2v"))
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n"), aggs: _*)
      .collect()
    if (rows.isEmpty) return (Map.empty, Double.NaN)
    val meanD = rows.map(r =>
      r.getInt(0) -> r.getDouble(2) / r.getLong(1)).toMap
    val n = rows.map(_.getLong(1)).sum
    val within = rows.map(_.getDouble(2)).sum / n
    val mu2 = (0 until dim).map { j =>
      val m = rows.map(_.getDouble(3 + j)).sum / n; m * m
    }.sum
    val total = 1.0 - mu2
    val r2 =
      if (total <= 1e-9) 1.0
      else math.max(0.0, math.min(1.0, 1.0 - within / total))
    (meanD, r2)
  }

  private[operators] def clusterR2(
      assigned: DataFrame,
      vecCol: String,
      centroids: Array[(Int, Array[Double])]): Double = {
    if (centroids.isEmpty) return Double.NaN
    val dim = centroids.head._2.length
    val centLit = typedLit(centroids.sortBy(_._1).map(_._2.toSeq).toSeq)
    val nv = if (assigned.columns.contains("graft_nvec")) col("graft_nvec")
             else nvecExpr(vecCol)
    val aggs: Seq[org.apache.spark.sql.Column] =
      sum(dist2Expr(col("graft_r2v"),
        element_at(centLit, col("list_id") + 1))).as("w") +:
        (0 until dim).map(j =>
          avg(element_at(col("graft_r2v"), j + 1)).as(s"graft_m$j"))
    val row = assigned
      .select(col("list_id"), nv.as("graft_r2v"))
      .agg(count(lit(1)).as("n"), aggs: _*)
      .head()
    val n = row.getLong(0)
    if (n == 0) return Double.NaN
    val within = row.getDouble(1) / n
    val mu2 = (0 until dim).map(j => { val m = row.getDouble(2 + j); m * m }).sum
    val total = 1.0 - mu2
    if (total <= 1e-9) 1.0
    else math.max(0.0, math.min(1.0, 1.0 - within / total))
  }

  /** Refuse an existing index path up front — before a caller's fit or
    * write spends any work on an index that could not be published. */
  private[operators] def requireFreshPath(
      spark: org.apache.spark.sql.SparkSession,
      root: org.apache.hadoop.fs.Path): Unit =
    require(!Swap.fsOf(spark, root).exists(root),
      s"index path $root already exists — remove it or save to a new path")

  /** One sub-table of a saved index at `version` (an index saved before
    * the commit log is adopted first). */
  private[operators] def readIndexSub(
      spark: org.apache.spark.sql.SparkSession,
      root: org.apache.hadoop.fs.Path,
      sub: String,
      version: Long): DataFrame =
    CommitLog.readSub(spark, root, sub, Some(version)).getOrElse(
      throw new IllegalArgumentException(
        s"no $sub at $root — not an IVF index?"))

  /** Load an index written by [[IvfIndex.save]]. The assigned table is
    * read lazily from its `list_id=` partitions — topK's list filter
    * becomes a partition filter, touching nprobe/nlist of the store. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val root = new org.apache.hadoop.fs.Path(path)
    CommitLog.adopt(spark, root)
    val v = CommitLog.currentVersion(Swap.fsOf(spark, root), root)
    val meta = readSidecar(readIndexSub(spark, root, "centroids", v), path)
    new IvfIndex(readIndexSub(spark, root, "data", v), meta.centroids,
      meta.idCol, meta.vecCol, meta.clusterR2)
  }

  private final case class Sidecar(
      centroids: Array[(Int, Array[Double])],
      idCol: String,
      vecCol: String,
      // NaN / absent column (pre-drift-baseline index) → None
      baselineDist2: Map[Int, Double],
      // NaN when the index predates the structure stat
      clusterR2: Double)

  private def readSidecar(df: DataFrame, path: String): Sidecar = {
    val hasBaseline = df.columns.contains("mean_dist2")
    val meta = df.collect()
    require(meta.nonEmpty, s"no centroids at $path/centroids — not an IVF index?")
    val centroids = meta.map(r =>
      (r.getInt(r.fieldIndex("list_id")),
        r.getSeq[Double](r.fieldIndex("centroid")).toArray)).sortBy(_._1)
    val baseline =
      if (!hasBaseline) Map.empty[Int, Double]
      else meta.map(r => r.getInt(r.fieldIndex("list_id")) ->
        r.getDouble(r.fieldIndex("mean_dist2")))
        .filterNot(_._2.isNaN).toMap
    val r2 =
      if (!df.columns.contains("cluster_r2")) Double.NaN
      else meta.head.getDouble(meta.head.fieldIndex("cluster_r2"))
    Sidecar(centroids,
      meta.head.getString(meta.head.fieldIndex("id_col")),
      meta.head.getString(meta.head.fieldIndex("vec_col")), baseline, r2)
  }

  /** L2-normalized double array from a float-array vector column —
    * fused native kernel (r19: the composed form below is an
    * interpreted CodegenFallback HOF tree; a per-phase timing of the
    * build measured ~1 ms/row of pure interpretation across
    * nvec/assign/residual/dist2 at sf0.1). Bit-identical values —
    * IvfKernelParitySpec pins every kernel against its composed
    * witness. */
  private[operators] def nvecExpr(vecCol: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.IvfExpressions.l2Normalize(col(vecCol))

  /** Composed PARITY WITNESS spelling of [[nvecExpr]] — never the scan
    * path. */
  private[operators] def nvecExprHof(vecCol: String): org.apache.spark.sql.Column = {
    val dbl = transform(col(vecCol), _.cast("double"))
    val nrm = sqrt(aggregate(transform(dbl, x => x * x), lit(0.0), _ + _))
    transform(dbl, x => x / greatest(nrm, lit(1e-12)))
  }

  private[operators] def dist2Expr(
      a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.IvfExpressions.arrayDist2(a, b)

  /** Composed PARITY WITNESS spelling of [[dist2Expr]] — never the scan
    * path. */
  private[operators] def dist2ExprHof(
      a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  /** Per-list mean squared assignment distance (normalized vectors vs
    * their list's centroid) — the drift baseline. The centroid table is
    * nlist-bounded, so it rides along as a LITERAL lookup (list ids are
    * contiguous 0..nlist-1): one narrow projection + one aggregate, no
    * join at all. */
  private[operators] def meanAssignDist2(
      assigned: DataFrame,
      vecCol: String,
      centroids: Array[(Int, Array[Double])]): Map[Int, Double] = {
    val centLit = typedLit(centroids.sortBy(_._1).map(_._2.toSeq).toSeq)
    // reuse a precomputed normalized column when the caller carries one —
    // renormalizing every vector for the baseline is pure waste
    val nv = if (assigned.columns.contains("graft_nvec")) col("graft_nvec")
             else nvecExpr(vecCol)
    assigned
      .groupBy(col("list_id"))
      .agg(avg(dist2Expr(nv,
        element_at(centLit, col("list_id") + 1))).as("d2"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
  }

  /** Per-list outcome of an [[append]]: rows added, their mean squared
    * assignment distance, and the ratio against the build-time baseline
    * (None when the sidecar predates the baseline or the list got fewer
    * than `minRowsForDrift` rows). */
  final case class ListAppendStats(
      rows: Long, meanDist2: Double, driftRatio: Option[Double])

  /** Incrementally add vectors to a SAVED index — the continuous-ingest
    * path a 100 TB ANN store needs, instead of a full k-means rebuild per
    * delta. New vectors are assigned to their nearest EXISTING centroid
    * (one broadcast of the nlist×dim centroid table — the same
    * normalized-Euclidean metric the build used), and only the TOUCHED
    * `list_id=` partitions are rewritten (old rows + new rows staged,
    * then published as one [[CommitLog]] manifest — a crash leaves the
    * previous version intact, and appends into the same lists conflict
    * loudly).
    *
    * Centroids do not move on append, so quality degrades if the new
    * data's distribution drifts from the build sample: each list's new
    * rows are compared against the build-time mean assignment distance,
    * and any list whose ratio exceeds `maxDriftRatio` (with at least
    * `minRowsForDrift` new rows — small samples are noise) FAILS the
    * append loudly before anything is written, naming the drifted lists:
    * the correct response is a rebuild, not a silently degrading index.
    *
    * @return per-list append stats for the lists that received rows. */
  def append(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      newRows: DataFrame,
      maxDriftRatio: Double = 4.0,
      minRowsForDrift: Long = 50L): Map[Int, ListAppendStats] = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(path)
    CommitLog.adopt(spark, root)
    val base = CommitLog.currentVersion(Swap.fsOf(spark, root), root)
    val meta = readSidecar(readIndexSub(spark, root, "centroids", base), path)
    val stored = readIndexSub(spark, root, "data", base)
    require(
      newRows.columns.toSet == stored.columns.toSet - "list_id",
      s"append schema ${newRows.columns.sorted.mkString(",")} != index " +
        s"schema ${(stored.columns.toSet - "list_id").toSeq.sorted.mkString(",")}")

    // nearest-centroid assignment: rows × nlist broadcast expansion,
    // folded back map-side by min_by before the per-id shuffle
    val cents = meta.centroids.toSeq.toDF("graft_cl", "graft_centroid")
    val assignedNew = newRows
      .withColumn("graft_nvec", nvecExpr(meta.vecCol))
      .crossJoin(broadcast(cents))
      .withColumn("graft_d2", dist2Expr(col("graft_nvec"), col("graft_centroid")))
      .groupBy(col(meta.idCol))
      .agg(
        min_by(
          struct(col("graft_cl").as("list_id") +:
            newRows.columns.filterNot(_ == meta.idCol).map(col): _*),
          col("graft_d2")).as("graft_s"),
        min(col("graft_d2")).as("graft_d2"))
      .select(col(meta.idCol), col("graft_s.*"), col("graft_d2"))
      .persist()

    val stats = assignedNew.groupBy(col("list_id"))
      .agg(count(lit(1)).as("n"), avg(col("graft_d2")).as("d2"))
      .collect()
      .map { r =>
        val (lid, n, d2) = (r.getInt(0), r.getLong(1), r.getDouble(2))
        val ratio = meta.baselineDist2.get(lid)
          .filter(_ > 0).filter(_ => n >= minRowsForDrift).map(d2 / _)
        lid -> ListAppendStats(n, d2, ratio)
      }.toMap
    if (stats.isEmpty) { assignedNew.unpersist(); return Map.empty }
    val drifted = stats.filter(_._2.driftRatio.exists(_ > maxDriftRatio))
    if (drifted.nonEmpty) {
      assignedNew.unpersist()
      throw new IllegalStateException(
        s"IVF append drift check failed for lists " +
          drifted.map { case (l, s) =>
            f"$l (ratio ${s.driftRatio.get}%.2f over ${s.rows} rows)"
          }.mkString("[", ", ", "]") +
          s" — mean assignment distance exceeds $maxDriftRatio× the " +
          "build-time baseline; the new data's distribution has moved " +
          "away from the centroids, rebuild the index instead of " +
          "appending into degraded lists")
    }

    // rewrite ONLY the touched list partitions: old rows read through
    // partition pruning, merged with the new, staged, committed
    val touched = stats.keySet.toSeq.sorted
    val merged = stored
      .filter(col("list_id").isin(touched: _*))
      .unionByName(assignedNew.drop("graft_d2"))
    commitAppend(spark, root, base, merged, touched)
    assignedNew.unpersist()
    stats
  }

  /** Stage `merged` (the touched lists' old + new rows) and publish one
    * manifest retiring those lists' files — appends touching disjoint
    * lists commit concurrently, overlapping ones conflict. */
  private[operators] def commitAppend(
      spark: org.apache.spark.sql.SparkSession,
      root: org.apache.hadoop.fs.Path,
      base: Long,
      merged: DataFrame,
      touched: Seq[Int]): Unit = {
    val staging = Swap.Suffix.staging(root, Swap.newTag())
    merged.write.partitionBy("list_id").parquet(s"$staging/data")
    CommitLog.commitStaged(spark, root, staging, base,
      touched.map("data/list_id=" + _), wholeStore = false,
      meta = Map("operation" -> "ivf-append"))
    ()
  }
}
