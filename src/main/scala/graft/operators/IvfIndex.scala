package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.IvfExpressions
import org.apache.spark.sql.types.DecimalType

/** IVF (inverted-file) approximate nearest neighbor index, and the one IVF
  * core that [[IvfPqIndex]] is built on: a coarse k-means quantizer bins
  * every vector into its nearest centroid's list, and a query reads only
  * the `nprobe` nearest lists.
  *
  * The core owns every step the two families share, each written once:
  *  - fit ([[IvfIndex.fitCoarse]]): the `maxFitRows` lowest-id normalized
  *    vectors, collected once, clustered by the seeded driver-local
  *    [[LocalKMeans]] — a pure function of the data, whatever the input's
  *    partitioning;
  *  - assignment ([[IvfIndex.assign]]): one narrow fused argmin projection;
  *  - structure stats ([[IvfIndex.buildStats]]): cluster R² (what
  *    [[autoNprobe]] adapts to) and the per-list drift baseline;
  *  - list selection ([[nearestLists]]);
  *  - storage ([[IvfIndex.publish]] / [[IvfIndex.open]]): a [[CommitLog]]
  *    store with `data/` hive-partitioned by `list_id` (probes prune to
  *    nprobe/nlist of the files) and the `centroids/` sidecar;
  *  - incremental ingest ([[IvfIndex.appendWith]]).
  *
  * A family supplies only its codec — what a list stores per vector. Flat
  * IVF's codec is the identity: the rows themselves, re-ranked by exact
  * cosine. IVF-PQ's is a residual product quantizer (Jégou, Douze &
  * Schmid, IVF-ADC).
  *
  * Recall/cost knobs: nlist (≈ sqrt(n) classically), nprobe.
  */
final class IvfIndex private[operators] (
    val assigned: DataFrame, // original columns + list_id (IVF-PQ: its codes)
    private[operators] val side: IvfIndex.Sidecar) extends Serializable {

  def centroids: Array[(Int, Array[Double])] = side.centroids

  /** Fraction of the normalized corpus' variance the coarse clustering
    * explains (k-means R², measured at build over ALL rows). The
    * structure stat [[autoNprobe]] adapts to; NaN on indexes saved
    * before the stat existed. */
  def clusterR2: Double = side.clusterR2

  /** Measured-structure probe rule (r17, calibrated on the RecallReport
    * panels): nprobe = ⌈nlist·(1−R²)²⌉ clamped to [1, nlist]. On a
    * corpus with real cluster structure (clustered panel R²≈0.3) this
    * probes ~4/8 lists at recall 1.0; on a structureless corpus
    * (isotropic panel R²≈0.05) it honestly degrades toward scanning all
    * lists — the documented correct behavior when there is no structure
    * to exploit (fixed nprobe=4 measured recall 0.77 there; the rule's
    * 8/8 measured 1.0). Unknown R² (old index) → nlist, the
    * conservative exact scan. */
  def autoNprobe: Int = IvfIndex.autoNprobe(centroids.length, clusterR2)

  /** The L2-normalized probe and the ids of its `nprobe` nearest lists
    * (`nprobe <= 0` picks [[autoNprobe]]). Lists rank by Euclidean
    * distance to the NORMALIZED probe — the metric and space the
    * assignment used — so "nearest lists" is exactly consistent with how
    * vectors were binned (a cosine ranking of non-unit centroids could
    * disagree). Fails fast on a dimensionality mismatch, which would
    * otherwise rank the wrong lists silently. */
  private[operators] def nearestLists(
      probe: Array[Float], nprobe: Int): (Array[Double], Seq[Int]) = {
    require(centroids.isEmpty || probe.length == centroids.head._2.length,
      s"probe dimensionality ${probe.length} != index dimensionality " +
        s"${centroids.head._2.length}")
    val norm = math.sqrt(probe.map(x => x.toDouble * x).sum).max(1e-12)
    val pn = probe.map(_.toDouble / norm)
    def dist2(c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { val d = c(i) - pn(i); s += d * d; i += 1 }
      s
    }
    val np = if (nprobe <= 0) autoNprobe else nprobe
    (pn, centroids.sortBy { case (_, c) => dist2(c) }.take(np).map(_._1).toSeq)
  }

  /** The rows of `lists` — a partition filter on a loaded index. */
  private[operators] def probed(lists: Seq[Int]): DataFrame =
    assigned.filter(col("list_id").isin(lists: _*))

  /** Top-k by exact cosine among the `nprobe` nearest lists (`nprobe <= 0`,
    * the default, picks [[autoNprobe]]). */
  def topK(probe: Array[Float], k: Int, nprobe: Int = -1): DataFrame =
    IvfIndex.exactTopK(probed(nearestLists(probe, nprobe)._2),
      side.idCol, side.vecCol, probe, k)

  /** Persist the index as a [[CommitLog]] store at `path` ([[IvfIndex.publish]]):
    * the assigned table under `data/`, the centroids, column names,
    * cluster R² and per-list drift baseline under `centroids/`, in ONE
    * manifest. An existing `path` is refused before anything is written.
    * Build once, query many, append incrementally. */
  def save(path: String): Unit = {
    val root = new Path(path)
    IvfIndex.requireFreshPath(assigned.sparkSession, root)
    // a legacy sidecar without a baseline gets one measured now
    val s = if (side.baselineDist2.nonEmpty) side
      else side.copy(baselineDist2 = IvfIndex.buildStats(assigned, side.vecCol, centroids)._1)
    IvfIndex.publish(root, assigned, s, "ivf-save")(_ => ())
  }
}

object IvfIndex {

  /** Build the index: fit the coarse quantizer ([[fitCoarse]]; at most
    * `maxFitRows` rows reach the driver, whatever the corpus size), then
    * assign ALL rows in one narrow pass. */
  def build(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      maxFitRows: Int = 65536,
      seed: Long = 42L): IvfIndex = {
    val (_, cents) = fitCoarse(df, idCol, vecCol, nlist, maxFitRows, seed)
    val assigned = assign(df, vecCol, cents).drop("graft_nvec").persist()
    val (meanD, r2) = buildStats(assigned, vecCol, cents)
    new IvfIndex(assigned, Sidecar(cents, idCol, vecCol, meanD, r2, residual = None))
  }

  /** The coarse fit both families share. Vectors are L2-normalized first,
    * so angular neighbors cluster together (on unit vectors Euclidean
    * distance is monotone in cosine: |u−v|² = 2−2cosθ). The fit input is
    * the `maxFitRows` lowest-(string-)id rows, planned as
    * TakeOrderedAndProject (bounded per-partition heaps), so the driver
    * copy is capped by contract and the sample — hence the seeded
    * [[LocalKMeans]] fit — is a pure function of the data, not of the
    * upstream partitioning. Below the cap the sample is the whole corpus.
    * Returns the sample (IVF-PQ fits its codebooks on it) and the
    * centroids, list ids 0..nlist-1. */
  private[operators] def fitCoarse(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      maxFitRows: Int,
      seed: Long): (Array[Array[Double]], Array[(Int, Array[Double])]) = {
    require(maxFitRows > 0, s"maxFitRows must be positive, got $maxFitRows")
    val sample = df
      .select(col(idCol).cast("string").as("graft_sid"), nvecExpr(vecCol).as("graft_nvec"))
      .orderBy("graft_sid")
      .limit(maxFitRows)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "empty fit sample — the input is empty")
    val cents = LocalKMeans.fit(sample, math.min(nlist, sample.length).max(2), seed)
    (sample, cents.zipWithIndex.map { case (v, i) => (i, v) })
  }

  /** Nearest-list assignment against frozen centroids: ONE narrow
    * projection — the normalized vector (`graft_nvec`) and the fused
    * argmin kernel's `list_id` (strict-`<`, ties toward the lower list).
    * No join, no exchange; build and append both run it. */
  private[operators] def assign(
      df: DataFrame, vecCol: String, cents: Array[(Int, Array[Double])]): DataFrame =
    df.withColumn("graft_nvec", nvecExpr(vecCol))
      .withColumn("list_id", IvfExpressions.coarseAssign(col("graft_nvec"), cents.map(_._2)))

  /** The row's list centroid, from the centroid table carried as a
    * literal (list ids are contiguous 0..nlist-1): no join. */
  private[operators] def centroidOf(cents: Array[(Int, Array[Double])]): Column =
    element_at(typedLit(cents.sortBy(_._1).map(_._2.toSeq).toSeq), col("list_id") + 1)

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

  /** Exact, hence associative, sums: decimal(38, 18) holds every term to
    * 1e-18 and adds without rounding, so a total is the same whatever
    * order the partitions combine in. */
  private val Exact = DecimalType(38, 18)

  /** BOTH build-time stats from ONE aggregate job: the per-list mean
    * squared assignment distance (the append drift baseline) and the
    * global k-means R² over the NORMALIZED vectors, 1 − SSE_within /
    * SSE_total. For unit vectors SSE_total = E‖x−μ‖² = 1 − ‖μ‖², so a
    * groupBy(list_id) carrying (n, Σd², per-dim Σnvec) yields nlist tiny
    * rows that combine to both numbers on the driver — no second scan, no
    * join. The sums are exact ([[Exact]]), so the stats — and the
    * [[autoNprobe]] read from them — do not depend on the input's
    * partitioning. R² is clamped to [0, 1]; a degenerate corpus (all one
    * direction → total ≈ 0) reports 1 (perfectly explained). */
  private[operators] def buildStats(
      assigned: DataFrame,
      vecCol: String,
      centroids: Array[(Int, Array[Double])]): (Map[Int, Double], Double) = {
    if (centroids.isEmpty) return (Map.empty, Double.NaN)
    val dim = centroids.head._2.length
    val nv = if (assigned.columns.contains("graft_nvec")) col("graft_nvec")
             else nvecExpr(vecCol)
    def exactSum(c: Column): Column = sum(c.try_cast(Exact))
    val aggs: Seq[Column] =
      exactSum(dist2Expr(col("graft_r2v"), centroidOf(centroids))).as("w") +:
        (0 until dim).map(j => exactSum(element_at(col("graft_r2v"), j + 1)).as(s"graft_s$j"))
    val rows = assigned
      .select(col("list_id"), nv.as("graft_r2v"))
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n"), aggs: _*)
      .collect()
    if (rows.isEmpty) return (Map.empty, Double.NaN)
    def total(i: Int): Double = rows.map(_.getDecimal(i)).reduce(_ add _).doubleValue
    val meanD = rows.map(r => r.getInt(0) -> r.getDecimal(2).doubleValue / r.getLong(1)).toMap
    val n = rows.map(_.getLong(1)).sum
    val within = total(2) / n
    val mu2 = (0 until dim).map { j => val m = total(3 + j) / n; m * m }.sum
    val tot = 1.0 - mu2
    val r2 =
      if (tot <= 1e-9) 1.0
      else math.max(0.0, math.min(1.0, 1.0 - within / tot))
    (meanD, r2)
  }

  /** Refuse an existing index path up front — before a caller's fit or
    * write spends any work on an index that could not be published. */
  private[operators] def requireFreshPath(spark: SparkSession, root: Path): Unit =
    require(!Swap.fsOf(spark, root).exists(root),
      s"index path $root already exists — remove it or save to a new path")

  /** One sub-table of a saved index at `version` (an index saved before
    * the commit log is adopted first). */
  private[operators] def readIndexSub(
      spark: SparkSession, root: Path, sub: String, version: Long): DataFrame =
    CommitLog.readSub(spark, root, sub, Some(version)).getOrElse(
      throw new IllegalArgumentException(
        s"no $sub at $root — not an IVF index?"))

  /** The `centroids/` sidecar: the coarse quantizer plus what every
    * reader of either family needs with it. One row per list; the
    * columns are list_id, centroid, id_col, vec_col, mean_dist2,
    * [residual,] cluster_r2. */
  private[operators] final case class Sidecar(
      centroids: Array[(Int, Array[Double])],
      idCol: String,
      vecCol: String,
      // NaN / absent column (pre-drift-baseline index) → no entry
      baselineDist2: Map[Int, Double],
      // NaN when the index predates the structure stat
      clusterR2: Double,
      // IVF-PQ's coding flag; None on flat IVF (no column) and on a
      // pre-residual IVF-PQ store (vector-coded)
      residual: Option[Boolean])

  private def readSidecar(df: DataFrame, path: String): Sidecar = {
    val meta = df.collect()
    require(meta.nonEmpty, s"no centroids at $path/centroids — not an IVF index?")
    val head = meta.head
    def has(c: String): Boolean = df.columns.contains(c)
    def listOf(r: org.apache.spark.sql.Row): Int = r.getInt(r.fieldIndex("list_id"))
    Sidecar(
      meta.map(r => (listOf(r), r.getSeq[Double](r.fieldIndex("centroid")).toArray)).sortBy(_._1),
      head.getString(head.fieldIndex("id_col")),
      head.getString(head.fieldIndex("vec_col")),
      if (!has("mean_dist2")) Map.empty
      else meta.map(r => listOf(r) -> r.getDouble(r.fieldIndex("mean_dist2")))
        .filterNot(_._2.isNaN).toMap,
      if (has("cluster_r2")) head.getDouble(head.fieldIndex("cluster_r2")) else Double.NaN,
      if (has("residual")) Some(head.getBoolean(head.fieldIndex("residual"))) else None)
  }

  /** Stage `data` (partitioned by list_id), the sidecar and whatever
    * sub-tables the codec writes into the staging dir (`extra`), then
    * publish them all in ONE manifest, so a failed save leaves no
    * half-written index. */
  private[operators] def publish(
      root: Path, data: DataFrame, side: Sidecar, operation: String)(
      extra: String => Unit): Unit = {
    val spark = data.sparkSession
    import spark.implicits._
    val staging = Swap.Suffix.staging(root, Swap.newTag())
    data.write.partitionBy("list_id").parquet(s"$staging/data")
    val meta = side.centroids.toSeq.map { case (i, c) =>
      (i, c, side.idCol, side.vecCol, side.baselineDist2.getOrElse(i, Double.NaN),
        side.residual.getOrElse(false), side.clusterR2)
    }.toDF("list_id", "centroid", "id_col", "vec_col", "mean_dist2", "residual",
      "cluster_r2")
    (if (side.residual.isEmpty) meta.drop("residual") else meta)
      .coalesce(1).write.parquet(s"$staging/centroids")
    extra(staging.toString)
    CommitLog.commitStaged(spark, root, staging, 0L, Nil,
      wholeStore = true, meta = Map("operation" -> operation))
    ()
  }

  /** A saved index at its current version: the root, the version, the
    * sidecar (read once) and the lazily read `data/` table. */
  private[operators] def open(
      spark: SparkSession, path: String): (Path, Long, Sidecar, DataFrame) = {
    val root = new Path(path)
    CommitLog.adopt(spark, root)
    val v = CommitLog.currentVersion(Swap.fsOf(spark, root), root)
    (root, v, readSidecar(readIndexSub(spark, root, "centroids", v), path),
      readIndexSub(spark, root, "data", v))
  }

  /** Load an index written by [[IvfIndex.save]]. The assigned table is
    * read lazily from its `list_id=` partitions — topK's list filter
    * becomes a partition filter, touching nprobe/nlist of the store. */
  def load(spark: SparkSession, path: String): IvfIndex = {
    val (_, _, side, data) = open(spark, path)
    new IvfIndex(data, side)
  }

  /** Exact-cosine top-k of `df`'s rows against `probe`, similarity
    * rounded to 6 places, ties by id. */
  private[operators] def exactTopK(
      df: DataFrame, idCol: String, vecCol: String, probe: Array[Float], k: Int): DataFrame =
    df.select(
        col(idCol),
        round(Similarity.cosine(col(vecCol), array(probe.map(lit(_)): _*)), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)

  /** L2-normalized double array from a float-array vector column —
    * fused native kernel (r19: the composed form below is an
    * interpreted CodegenFallback HOF tree; a per-phase timing of the
    * build measured ~1 ms/row of pure interpretation across
    * nvec/assign/residual/dist2 at sf0.1). Bit-identical values —
    * IvfKernelParitySpec pins every kernel against its composed
    * witness. */
  private[operators] def nvecExpr(vecCol: String): Column =
    IvfExpressions.l2Normalize(col(vecCol))

  /** Composed PARITY WITNESS spelling of [[nvecExpr]] — never the scan
    * path. */
  private[operators] def nvecExprHof(vecCol: String): Column = {
    val dbl = transform(col(vecCol), _.cast("double"))
    val nrm = sqrt(aggregate(transform(dbl, x => x * x), lit(0.0), _ + _))
    transform(dbl, x => x / greatest(nrm, lit(1e-12)))
  }

  private[operators] def dist2Expr(a: Column, b: Column): Column =
    IvfExpressions.arrayDist2(a, b)

  /** Composed PARITY WITNESS spelling of [[dist2Expr]] — never the scan
    * path. */
  private[operators] def dist2ExprHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  /** Per-list outcome of an [[append]]: rows added, their mean squared
    * assignment distance, and the ratio against the build-time baseline
    * (None when the sidecar predates the baseline or the list got fewer
    * than `minRowsForDrift` rows). */
  final case class ListAppendStats(
      rows: Long, meanDist2: Double, driftRatio: Option[Double])

  /** Incrementally add vectors to a SAVED index — the continuous-ingest
    * path a 100 TB ANN store needs, instead of a full k-means rebuild per
    * delta ([[appendWith]] with the identity codec). `newRows` must have
    * the indexed table's columns.
    *
    * @return per-list append stats for the lists that received rows. */
  def append(
      spark: SparkSession,
      path: String,
      newRows: DataFrame,
      maxDriftRatio: Double = 4.0,
      minRowsForDrift: Long = 50L): Map[Int, ListAppendStats] =
    appendWith(spark, path, newRows, maxDriftRatio, minRowsForDrift) { (_, _, _, stored) =>
      val want = stored.columns.toSet - "list_id"
      require(newRows.columns.toSet == want,
        s"append schema ${newRows.columns.sorted.mkString(",")} != index " +
          s"schema ${want.toSeq.sorted.mkString(",")}")
      _.drop("graft_nvec", "graft_d2")
    }

  /** The one append of both families. New vectors go to their nearest
    * EXISTING centroid ([[assign]] — one narrow projection over the
    * centroid literal: no join, no exchange), and only the TOUCHED
    * `list_id=` partitions are rewritten: old rows + new rows staged,
    * then published as one [[CommitLog]] manifest ([[commitAppend]]) — a
    * crash leaves the previous version intact, and appends into the same
    * lists conflict loudly.
    *
    * Centroids (and a codec's codebooks) do not move on append, so
    * quality degrades if the new data's distribution drifts from the
    * build sample: each list's new rows are compared against the
    * build-time mean assignment distance, and any list whose ratio
    * exceeds `maxDriftRatio` (with at least `minRowsForDrift` new rows —
    * small samples are noise) FAILS the append loudly before anything is
    * written, naming the drifted lists: the correct response is a
    * rebuild, not a silently degrading index.
    *
    * `codec` sees the opened store once — root, version, sidecar and the
    * stored rows — to validate `newRows` and read its own sub-tables; it
    * returns the map from assigned rows (the input's columns plus
    * `graft_nvec`, `list_id`, `graft_d2`) to the rows a list stores. */
  private[operators] def appendWith(
      spark: SparkSession,
      path: String,
      newRows: DataFrame,
      maxDriftRatio: Double,
      minRowsForDrift: Long)(
      codec: (Path, Long, Sidecar, DataFrame) => DataFrame => DataFrame)
      : Map[Int, ListAppendStats] = {
    val (root, base, side, stored) = open(spark, path)
    val encode = codec(root, base, side, stored)
    val assignedNew = assign(newRows, side.vecCol, side.centroids)
      .withColumn("graft_d2", dist2Expr(col("graft_nvec"), centroidOf(side.centroids)))
      .persist()
    try {
      val stats = assignedNew.groupBy(col("list_id"))
        .agg(count(lit(1)).as("n"), avg(col("graft_d2")).as("d2"))
        .collect()
        .map { r =>
          val (lid, n, d2) = (r.getInt(0), r.getLong(1), r.getDouble(2))
          val ratio = side.baselineDist2.get(lid)
            .filter(_ > 0).filter(_ => n >= minRowsForDrift).map(d2 / _)
          lid -> ListAppendStats(n, d2, ratio)
        }.toMap
      val drifted = stats.filter(_._2.driftRatio.exists(_ > maxDriftRatio))
      if (drifted.nonEmpty) throw new IllegalStateException(
        s"IVF append drift check failed for lists " +
          drifted.map { case (l, s) =>
            f"$l (ratio ${s.driftRatio.get}%.2f over ${s.rows} rows)"
          }.mkString("[", ", ", "]") +
          s" — mean assignment distance exceeds $maxDriftRatio× the " +
          "build-time baseline; the new data's distribution has moved " +
          "away from the centroids, rebuild the index instead of " +
          "appending into degraded lists")
      if (stats.nonEmpty) {
        val touched = stats.keySet.toSeq.sorted
        commitAppend(spark, root, base,
          stored.filter(col("list_id").isin(touched: _*)).unionByName(encode(assignedNew)),
          touched)
      }
      stats
    } finally assignedNew.unpersist()
  }

  /** Stage `merged` (the touched lists' old + new rows) and publish one
    * manifest retiring those lists' files — appends touching disjoint
    * lists commit concurrently, overlapping ones conflict. */
  private def commitAppend(
      spark: SparkSession,
      root: Path,
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
