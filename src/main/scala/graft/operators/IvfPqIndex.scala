package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ: product-quantized approximate nearest neighbor — the memory
  * story int8 quantization (4×, Similarity.quantizedTopK) cannot reach.
  * Each NORMALIZED vector is split into `m` subspaces of dim/m
  * components; each subvector is replaced by the id of its nearest
  * per-subspace codebook centroid. A 64-dim float32 vector (256 bytes)
  * becomes m=8 one-byte codes — 32× smaller, the difference between an
  * embedding index that fits in cluster memory at 100 TB and one that
  * doesn't.
  *
  * Query = classic ADC (asymmetric distance computation): the query stays
  * full precision; per subspace a lookup table LUT[s][c] =
  * dot(query_sub_s, codebook[s][c]) is computed ONCE driver-side (m×ksub
  * doubles), and a database vector's approximate cosine is just
  * Σ_s LUT[s][code_s] — m array lookups per row, no float math over the
  * vector at all. The top `poolK` coarse candidates then fetch their
  * full-precision rows (broadcast semi-join) for exact cosine re-rank,
  * so PQ error only costs recall when a true neighbor's coarse score
  * falls outside the pool — `poolK` is the dial.
  *
  * Layout mirrors [[IvfIndex]] (same coarse IVF lists, same sidecar
  * shapes, same append/drift machinery): `data/` holds (id, pq_code)
  * hive-partitioned by `list_id` so probes prune to nprobe/nlist of the
  * files; `centroids/` holds the coarse centroids + per-list drift
  * baseline (+ the residual-coding flag); `codebooks/` holds the
  * m×ksub×dsub PQ centroids.
  *
  * Codes quantize the RESIDUAL (x − coarse centroid of x's list), the
  * standard IVF-PQ accuracy move: residuals concentrate near the origin,
  * so the same ksub centroids spend their resolution on a much smaller
  * ball than raw vectors would need. The textbook objection — residual
  * ADC needs a fresh m×ksub LUT per probed list — applies to L2 but NOT
  * to the inner-product metric used here: dot(q, c + r̃) = dot(q, c) +
  * dot(q, r̃), so ONE shared residual LUT serves every probed list and
  * the per-list part collapses to a single precomputed scalar
  * (dot(q, c_list), an nlist-array literal indexed by the partition
  * column). Pre-residual stores (no `residual` flag in the sidecar) load
  * and score on the vector-coded path unchanged.
  *
  * Encoding — build and append both — is [[org.apache.spark.sql.graft
  * .PqEncode]]: one fused, whole-stage-codegen'd narrow loop per row. No
  * codebook join, no id-grain shuffles (the previous broadcast-join
  * encoder paid two), nothing to skew; the 100 TB build cost is exactly
  * one pass over the vectors plus the partitioned write.
  *
  * Determinism: the codebook fit input is the driver-bounded sample,
  * sorted by id and collected once; all fits run through the seeded
  * driver-local [[LocalKMeans]], so the same data + seed produce
  * bit-identical codebooks regardless of how the input happened to be
  * partitioned — index rebuilds are reproducible (and [[PqEncode]]'s
  * strict-`<` argmin makes code assignment a pure function of vector +
  * codebooks).
  */
final class IvfPqIndex private (
    val codes: DataFrame, // idCol, list_id, pq_code: array<int>
    val coarse: Array[(Int, Array[Double])],
    val codebooks: Array[Array[Array[Double]]], // [subspace][code][dsub]
    val idCol: String,
    val vecCol: String,
    val residual: Boolean,
    /** Coarse-clustering R² (see [[IvfIndex.clusterR2]]); NaN on stores
      * saved before the stat existed. */
    val clusterR2: Double = Double.NaN) extends Serializable {

  def m: Int = codebooks.length
  def ksub: Int = codebooks.headOption.map(_.length).getOrElse(0)

  /** Measured-structure probe rule — the shared [[IvfIndex.autoNprobe]]
    * calibration: structureless corpora honestly degrade toward probing
    * every list; clustered corpora keep the pruning. */
  def autoNprobe: Int = IvfIndex.autoNprobe(coarse.length, clusterR2)

  /** Rerank-pool rule matched to [[autoNprobe]]: the pool grows with the
    * number of lists actually probed (calibrated on the RecallReport
    * panels — fixed nprobe=8/poolK=150 measured isotropic recall 0.84;
    * auto 8/300 measured 0.97, clustered 5/188 recall 1.0). */
  def autoPoolK(k: Int, basePoolK: Int = 150, baseNprobe: Int = 4): Int =
    math.max(math.max(k, basePoolK),
      math.ceil(basePoolK.toDouble * autoNprobe / baseNprobe).toInt)

  /** Approximate top-k: ADC-score the `nprobe` nearest coarse lists'
    * codes, pool `poolK` candidates, exact-cosine re-rank their
    * full-precision rows fetched from `source` (the original embedding
    * table — the PQ store holds no floats, that is the point). */
  def topK(
      source: DataFrame,
      probe: Array[Float],
      k: Int,
      nprobe: Int = -1,
      poolK: Int = -1): DataFrame = {
    val np = if (nprobe <= 0) autoNprobe else nprobe
    val pk = if (poolK <= 0) autoPoolK(k) else poolK
    require(pk >= k, s"poolK=$pk must be >= k=$k")
    val dim = coarse.headOption.map(_._2.length).getOrElse(probe.length)
    require(probe.length == dim,
      s"probe dimensionality ${probe.length} != index dimensionality $dim")
    val pn = {
      val n = math.sqrt(probe.map(x => x.toDouble * x).sum).max(1e-12)
      probe.map(_.toDouble / n)
    }
    def dist2(c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { val d = c(i) - pn(i); s += d * d; i += 1 }
      s
    }
    val lists = coarse.sortBy { case (_, c) => dist2(c) }.take(np).map(_._1)
    // one LUT per query: LUT[s][c] = dot(normalized probe's subspace s,
    // codebook centroid c) — approximate cosine is a sum of m lookups.
    // Residual coding adds dot(q, c_list), a per-LIST scalar looked up by
    // the partition column (inner product distributes over c + r̃; no
    // per-list LUT needed — see the class doc).
    val dsub = dim / m
    val luts: Array[Seq[Double]] = Array.tabulate(m) { s =>
      codebooks(s).map { cent =>
        var acc = 0.0; var j = 0
        while (j < dsub) { acc += pn(s * dsub + j) * cent(j); j += 1 }
        acc
      }.toSeq
    }
    val lutSum = (0 until m).map { s =>
      element_at(typedLit(luts(s)), element_at(col("pq_code"), s + 1) + 1)
    }.reduce(_ + _)
    val adc = if (residual) {
      val listConst: Seq[Double] = coarse.sortBy(_._1).map { case (_, c) =>
        var acc = 0.0; var i = 0
        while (i < dim) { acc += pn(i) * c(i); i += 1 }
        acc
      }.toSeq
      lutSum + element_at(typedLit(listConst), col("list_id") + 1)
    } else lutSum
    val pool = codes
      .filter(col("list_id").isin(lists.toSeq: _*)) // partition-prunable
      .select(col(idCol), adc.as("graft_adc"))
      .orderBy(col("graft_adc").desc, col(idCol).asc)
      .limit(pk)
      .select(idCol)
    source
      .join(broadcast(pool), Seq(idCol), "left_semi")
      .select(
        col(idCol),
        round(Similarity.cosine(col(vecCol), array(probe.map(lit(_)): _*)), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Persist as a [[CommitLog]] store: codes under `data/` partitioned
    * by list_id (probe pruning), coarse centroids + drift baseline under
    * `centroids/` and the PQ codebooks under `codebooks/` — all three
    * staged, then published in ONE manifest, so a failed save leaves no
    * half-written index. The baseline comes from `assigned` (the
    * build-time vectors) — the codes table itself holds no floats to
    * measure. */
  private[operators] def save(
      path: String, assigned: DataFrame,
      meanDIn: Option[Map[Int, Double]] = None): Unit = {
    val spark = codes.sparkSession
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(path)
    val staging = Swap.Suffix.staging(root, Swap.newTag())
    codes.write.partitionBy("list_id").parquet(s"$staging/data")
    val meanD = meanDIn.getOrElse(
      IvfIndex.meanAssignDist2(assigned, vecCol, coarse))
    coarse.toSeq.map { case (i, c) =>
      (i, c, idCol, vecCol, meanD.getOrElse(i, Double.NaN), residual, clusterR2)
    }
      .toDF("list_id", "centroid", "id_col", "vec_col", "mean_dist2",
        "residual", "cluster_r2")
      .coalesce(1).write.parquet(s"$staging/centroids")
    codebooks.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (cent, c) => (s, c, cent.toSeq) }
    }.toSeq.toDF("subspace", "code", "centroid")
      .coalesce(1).write.parquet(s"$staging/codebooks")
    CommitLog.commitStaged(spark, root, staging, 0L, Nil,
      wholeStore = true, meta = Map("operation" -> "ivf-pq-save"))
    ()
  }
}

object IvfPqIndex {

  /** Build and PERSIST an IVF-PQ index at `path` in one step (unlike
    * IvfIndex there is no useful unpersisted form: the whole point of
    * the codes table is its on-disk footprint).
    *
    * @param nlist coarse IVF lists (probe pruning grain)
    * @param m subspaces — dim must divide evenly; bytes per vector
    * @param ksub centroids per subspace (≤ 256 keeps a code in one
    *   byte); capped at half the sample size with a warning via require
    * @param maxFitRows MANDATORY driver-copy cap for BOTH kmeans fits
    *   (coarse + subspaces): the fit collects the `maxFitRows` lowest-id
    *   rows via TakeOrdered — bounded no matter the corpus size (a
    *   fraction of 100 TB is still unbounded, the round-9 kmeansFit
    *   lesson). Below the cap the sample is the whole corpus, so
    *   small-SF builds are identical to the old full-collect path.
    * @param residual quantize x − coarse centroid (default; see class
    *   doc) instead of x itself — `false` reproduces the pre-residual
    *   store format and scoring path
    */
  def buildAndSave(
      df: DataFrame,
      path: String,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      m: Int = 8,
      ksub: Int = 256,
      maxFitRows: Int = 65536,
      seed: Long = 42L,
      residual: Boolean = true): IvfPqIndex = {
    val spark = df.sparkSession
    require(maxFitRows > 0, s"maxFitRows must be positive, got $maxFitRows")
    // an existing path could never be published — refuse before the fit
    IvfIndex.requireFreshPath(spark, new org.apache.hadoop.fs.Path(path))

    val withNvec = df.withColumn("graft_nvec", IvfIndex.nvecExpr(vecCol))
    // deterministic fit input: the maxFitRows lowest-(string-)id rows,
    // planned as TakeOrderedAndProject (bounded per-partition heaps) so
    // the driver copy is capped by contract regardless of corpus size,
    // and the fit is a pure function of the data, not the upstream
    // partitioning. ALL fits (coarse + m subspaces) run driver-local over
    // this one collect — 1 + m MLlib jobs over a single-partition frame
    // paid seconds of fixed scheduling overhead EACH for a sample that
    // fits in an array (measured: 18 s → sub-second per index build).
    val sample: Array[Array[Double]] =
      withNvec
        .select(col(idCol).cast("string").as("graft_sid"), col("graft_nvec"))
        .orderBy("graft_sid")
        .limit(maxFitRows)
        .collect()
        .map(_.getSeq[Double](1).toArray)
    val nSample = sample.length
    require(nSample > 0, "empty fit sample — the input is empty")
    val dim = sample(0).length
    require(dim % m == 0, s"vector dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    val ksubEff = math.min(ksub.toLong, nSample / 2L).toInt.max(2)

    // coarse IVF fit (same normalized space/metric as IvfIndex.build)
    val coarse = LocalKMeans
      .fit(sample, math.min(nlist, nSample).max(2), seed)
      .zipWithIndex.map { case (v, i) => (i, v) }

    // per-subspace codebooks over the sample's subvector slices — of the
    // RESIDUALS when residual-coding (sample assigned to its coarse list
    // driver-side with the same strict-< argmin the encoder uses)
    val fitSrc: Array[Array[Double]] =
      if (residual) sample.map { v =>
        val cent = coarse(LocalKMeans.assign(v, coarse.map(_._2)))._2
        Array.tabulate(v.length)(i => v(i) - cent(i))
      }
      else sample
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      val slices = fitSrc.map(_.slice(s * dsub, (s + 1) * dsub))
      LocalKMeans.fit(slices, ksubEff, seed + 1 + s) // distinct stream per subspace
    }

    val assigned = withNvec
      .withColumn("list_id", assignExpr(coarse.map(_._2)))
      .withColumn("graft_src",
        if (residual) residualCol(coarse) else col("graft_nvec"))
      .persist()
    val codes = encode(assigned, idCol, codebooks)
    // one aggregate job for r2 AND the drift baseline save() persists
    // (was two scans of the cached assigned frame — IvfIndex.buildStats)
    val (meanD, r2) = IvfIndex.buildStats(assigned, vecCol, coarse)
    val index = new IvfPqIndex(codes, coarse, codebooks, idCol, vecCol,
      residual, r2)
    index.save(path, assigned.drop("graft_src"), Some(meanD))
    assigned.unpersist()
    load(spark, path)
  }

  /** graft_nvec − this row's coarse centroid, as a pure column over the
    * literal centroid table (list ids are contiguous 0..nlist-1).
    * Fused native subtract (r19) — the zip_with witness lives in
    * [[residualColHof]], parity pinned in IvfKernelParitySpec. */
  private def residualCol(cents: Array[(Int, Array[Double])]): Column =
    org.apache.spark.sql.graft.IvfExpressions.zipSubtract(
      col("graft_nvec"),
      element_at(
        typedLit(cents.sortBy(_._1).map(_._2.toSeq).toSeq),
        col("list_id") + 1))

  /** Composed PARITY WITNESS spelling of [[residualCol]]. */
  private[operators] def residualColHof(cents: Array[(Int, Array[Double])]): Column =
    zip_with(
      col("graft_nvec"),
      element_at(
        typedLit(cents.sortBy(_._1).map(_._2.toSeq).toSeq),
        col("list_id") + 1),
      (x, c) => x - c)

  /** argmin over the frozen coarse centroids — fused native kernel
    * (r19): one narrow loop per row against the flattened centroid
    * reference object, first-match ties toward the lower list id under
    * Spark's double ordering, exactly the
    * `array_position(arr, array_min(arr)) − 1` semantics of the
    * composed witness ([[assignExprHof]], parity pinned in
    * IvfKernelParitySpec). Used for the COARSE assignment; subspace
    * codes use [[org.apache.spark.sql.graft.PqEncode]]. */
  private def assignExpr(cents: Array[Array[Double]]): Column =
    org.apache.spark.sql.graft.IvfExpressions.coarseAssign(
      col("graft_nvec"), cents)

  /** Composed PARITY WITNESS spelling of [[assignExpr]]: materialize
    * the nlist distances into ONE array, then
    * array_position(arr, array_min(arr)) — linear tree size (a when-
    * chain fold would reference its accumulator twice per level and grow
    * the tree 2^nlist). */
  private[operators] def assignExprHof(cents: Array[Array[Double]]): Column = {
    val d2s = cents.map { c =>
      aggregate(
        zip_with(col("graft_nvec"), typedLit(c.toSeq), (x, y) => (x - y) * (x - y)),
        lit(0.0), _ + _)
    }
    val arr = array(d2s.toIndexedSeq: _*)
    (array_position(arr, array_min(arr)) - 1).cast("int")
  }

  /** PQ-encode: ONE narrow, whole-stage-codegen'd projection — the
    * [[org.apache.spark.sql.graft.PqEncode]] expression argmins every
    * subspace in a fused loop over the precomputed `graft_src` column
    * (residual or normalized vector). No codebook join, no shuffle.
    * Both build and append run THIS path, so a vector encodes
    * identically whichever way it arrived. */
  private[operators] def encode(
      assigned: DataFrame,
      idCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    assigned.select(col(idCol), col("list_id"),
      org.apache.spark.sql.graft.PqEncodeExpr
        .pqEncode(col("graft_src"), codebooks).as("pq_code"))

  def load(spark: SparkSession, path: String): IvfPqIndex = {
    val root = new org.apache.hadoop.fs.Path(path)
    CommitLog.adopt(spark, root)
    loadAt(spark, root, CommitLog.currentVersion(Swap.fsOf(spark, root), root))
  }

  private def loadAt(
      spark: SparkSession,
      root: org.apache.hadoop.fs.Path,
      v: Long): IvfPqIndex = {
    val centMeta = IvfIndex.readIndexSub(spark, root, "centroids", v).collect()
    require(centMeta.nonEmpty, s"no centroids at $root/centroids — not an IVF-PQ index?")
    val coarse = centMeta.map(r =>
      (r.getInt(r.fieldIndex("list_id")),
        r.getSeq[Double](r.fieldIndex("centroid")).toArray)).sortBy(_._1)
    val bookRows = IvfIndex.readIndexSub(spark, root, "codebooks", v).collect()
    val m = bookRows.map(_.getInt(0)).max + 1
    val codebooks = Array.tabulate(m) { s =>
      bookRows.filter(_.getInt(0) == s).sortBy(_.getInt(1))
        .map(_.getSeq[Double](2).toArray)
    }
    val head = centMeta.head
    // pre-residual stores carry no flag — they are vector-coded
    val residual = head.schema.fieldNames.contains("residual") &&
      head.getBoolean(head.fieldIndex("residual"))
    val r2 =
      if (!head.schema.fieldNames.contains("cluster_r2")) Double.NaN
      else head.getDouble(head.fieldIndex("cluster_r2"))
    new IvfPqIndex(
      IvfIndex.readIndexSub(spark, root, "data", v),
      coarse, codebooks,
      head.getString(head.fieldIndex("id_col")),
      head.getString(head.fieldIndex("vec_col")),
      residual, r2)
  }

  /** Incremental append — same contract and machinery as
    * [[IvfIndex.append]]: nearest EXISTING coarse centroid, per-list
    * drift gate against the build-time baseline (fail loudly pre-write),
    * only touched list partitions rewritten and published as one
    * [[CommitLog]] manifest. New vectors are PQ-encoded with the FROZEN
    * codebooks — like the coarse centroids, they only move on rebuild,
    * which is exactly what the drift gate decides. */
  def append(
      spark: SparkSession,
      path: String,
      newRows: DataFrame,
      maxDriftRatio: Double = 4.0,
      minRowsForDrift: Long = 50L): Map[Int, IvfIndex.ListAppendStats] = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(path)
    CommitLog.adopt(spark, root)
    val base = CommitLog.currentVersion(Swap.fsOf(spark, root), root)
    val index = loadAt(spark, root, base)
    require(newRows.columns.contains(index.idCol) &&
      newRows.columns.contains(index.vecCol),
      s"append needs columns ${index.idCol}, ${index.vecCol}")
    val baseline = IvfIndex.readIndexSub(spark, root, "centroids", base).collect()
      .map(r => r.getInt(r.fieldIndex("list_id")) ->
        r.getDouble(r.fieldIndex("mean_dist2")))
      .filterNot(_._2.isNaN).toMap

    val assignedNew = newRows
      .select(col(index.idCol), col(index.vecCol))
      .withColumn("graft_nvec", IvfIndex.nvecExpr(index.vecCol))
      .withColumn("list_id", assignExpr(index.coarse.map(_._2)))
      .withColumn("graft_d2",
        IvfIndex.dist2Expr(col("graft_nvec"),
          element_at(
            typedLit(index.coarse.sortBy(_._1).map(_._2.toSeq).toSeq),
            col("list_id") + 1)))
      .withColumn("graft_src",
        if (index.residual) residualCol(index.coarse) else col("graft_nvec"))
      .persist()

    val stats = assignedNew.groupBy(col("list_id"))
      .agg(count(lit(1)).as("n"), avg(col("graft_d2")).as("d2"))
      .collect()
      .map { r =>
        val (lid, n, d2) = (r.getInt(0), r.getLong(1), r.getDouble(2))
        val ratio = baseline.get(lid)
          .filter(_ > 0).filter(_ => n >= minRowsForDrift).map(d2 / _)
        lid -> IvfIndex.ListAppendStats(n, d2, ratio)
      }.toMap
    if (stats.isEmpty) { assignedNew.unpersist(); return Map.empty }
    val drifted = stats.filter(_._2.driftRatio.exists(_ > maxDriftRatio))
    if (drifted.nonEmpty) {
      assignedNew.unpersist()
      throw new IllegalStateException(
        s"IVF-PQ append drift check failed for lists " +
          drifted.map { case (l, s) =>
            f"$l (ratio ${s.driftRatio.get}%.2f over ${s.rows} rows)"
          }.mkString("[", ", ", "]") +
          s" — rebuild the index instead of appending into degraded lists")
    }

    val newCodes = encode(assignedNew, index.idCol, index.codebooks)
    val touched = stats.keySet.toSeq.sorted
    val merged = index.codes
      .filter(col("list_id").isin(touched: _*))
      .unionByName(newCodes)
    IvfIndex.commitAppend(spark, root, base, merged, touched)
    assignedNew.unpersist()
    stats
  }
}
