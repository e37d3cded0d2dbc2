package graft.operators

import org.apache.hadoop.fs.Path
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
  * IVF-PQ is [[IvfIndex]] plus a residual PQ codec (IVF-ADC, Jégou,
  * Douze & Schmid, TPAMI 2011): the core fits and stores the coarse
  * quantizer, assigns lists, selects the probed ones, keeps the
  * structure stats and runs the append; this file supplies only the
  * codec — the codebook fit, [[PqEncode]], ADC scoring with `poolK`, and
  * the `codebooks/` sub-table. On disk: `data/` holds (id, pq_code)
  * hive-partitioned by `list_id` so probes prune to nprobe/nlist of the
  * files; `centroids/` is the core's sidecar (+ the residual-coding
  * flag); `codebooks/` holds the m×ksub×dsub PQ centroids.
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
    private[operators] val ivf: IvfIndex, // codes as its assigned rows
    val codebooks: Array[Array[Array[Double]]]) // [subspace][code][dsub]
  extends Serializable {

  def codes: DataFrame = ivf.assigned // idCol, list_id, pq_code: array<int>
  def coarse: Array[(Int, Array[Double])] = ivf.centroids
  def idCol: String = ivf.side.idCol
  def vecCol: String = ivf.side.vecCol
  /** Residual coding (see the class doc); false on a vector-coded store,
    * including one saved before the flag existed. */
  def residual: Boolean = ivf.side.residual.getOrElse(false)
  /** Coarse-clustering R² (see [[IvfIndex.clusterR2]]); NaN on stores
    * saved before the stat existed. */
  def clusterR2: Double = ivf.clusterR2

  def m: Int = codebooks.length
  def ksub: Int = codebooks.headOption.map(_.length).getOrElse(0)

  /** Measured-structure probe rule — the shared [[IvfIndex.autoNprobe]]
    * calibration: structureless corpora honestly degrade toward probing
    * every list; clustered corpora keep the pruning. */
  def autoNprobe: Int = ivf.autoNprobe

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
    val pk = if (poolK <= 0) autoPoolK(k) else poolK
    require(pk >= k, s"poolK=$pk must be >= k=$k")
    val (pn, lists) = ivf.nearestLists(probe, nprobe)
    val dim = pn.length
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
    val pool = ivf.probed(lists) // partition-prunable
      .select(col(idCol), adc.as("graft_adc"))
      .orderBy(col("graft_adc").desc, col(idCol).asc)
      .limit(pk)
      .select(idCol)
    IvfIndex.exactTopK(source.join(broadcast(pool), Seq(idCol), "left_semi"),
      idCol, vecCol, probe, k)
  }
}

object IvfPqIndex {

  /** Build and PERSIST an IVF-PQ index at `path` in one step (unlike
    * IvfIndex there is no useful unpersisted form: the whole point of
    * the codes table is its on-disk footprint). Codes, sidecar and
    * codebooks publish in ONE manifest ([[IvfIndex.publish]]).
    *
    * @param nlist coarse IVF lists (probe pruning grain)
    * @param m subspaces — dim must divide evenly; bytes per vector
    * @param ksub centroids per subspace (≤ 256 keeps a code in one
    *   byte); capped at half the sample size
    * @param maxFitRows MANDATORY driver-copy cap for BOTH kmeans fits
    *   (coarse + subspaces) — the core's [[IvfIndex.fitCoarse]] sample
    *   (a fraction of 100 TB is still unbounded, the round-9 kmeansFit
    *   lesson). Below the cap the sample is the whole corpus.
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
    import spark.implicits._
    // an existing path could never be published — refuse before the fit
    IvfIndex.requireFreshPath(spark, new Path(path))
    // ALL fits (coarse + m subspaces) run driver-local over the core's one
    // sample collect: a distributed fit pays seconds of fixed scheduling
    // overhead EACH for a sample that fits in an array
    val (sample, coarse) = IvfIndex.fitCoarse(df, idCol, vecCol, nlist, maxFitRows, seed)
    val dim = sample(0).length
    require(dim % m == 0, s"vector dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    val ksubEff = math.min(ksub.toLong, sample.length / 2L).toInt.max(2)

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

    val assigned = withSource(IvfIndex.assign(df, vecCol, coarse), coarse, residual).persist()
    // one aggregate job for r2 AND the drift baseline the sidecar persists
    val (meanD, r2) = IvfIndex.buildStats(assigned, vecCol, coarse)
    IvfIndex.publish(new Path(path), encode(assigned, idCol, codebooks),
      IvfIndex.Sidecar(coarse, idCol, vecCol, meanD, r2, Some(residual)),
      "ivf-pq-save") { staging =>
      codebooks.zipWithIndex.flatMap { case (book, s) =>
        book.zipWithIndex.map { case (cent, c) => (s, c, cent.toSeq) }
      }.toSeq.toDF("subspace", "code", "centroid")
        .coalesce(1).write.parquet(s"$staging/codebooks")
    }
    assigned.unpersist()
    load(spark, path)
  }

  /** The vector a code quantizes, as `graft_src`: the residual against
    * the row's coarse centroid, or the normalized vector itself. */
  private def withSource(
      assigned: DataFrame, coarse: Array[(Int, Array[Double])], residual: Boolean): DataFrame =
    assigned.withColumn("graft_src",
      if (residual) residualCol(coarse) else col("graft_nvec"))

  /** graft_nvec − this row's coarse centroid, as a pure column over the
    * literal centroid table (list ids are contiguous 0..nlist-1).
    * Fused native subtract (r19) — the zip_with witness lives in
    * [[residualColHof]], parity pinned in IvfKernelParitySpec. */
  private def residualCol(cents: Array[(Int, Array[Double])]): Column =
    org.apache.spark.sql.graft.IvfExpressions.zipSubtract(
      col("graft_nvec"), IvfIndex.centroidOf(cents))

  /** Composed PARITY WITNESS spelling of [[residualCol]]. */
  private[operators] def residualColHof(cents: Array[(Int, Array[Double])]): Column =
    zip_with(col("graft_nvec"), IvfIndex.centroidOf(cents), (x, c) => x - c)

  /** Composed PARITY WITNESS spelling of the core's coarse assignment
    * ([[IvfIndex.assign]]'s fused argmin kernel): materialize the nlist
    * distances into ONE array, then array_position(arr, array_min(arr)) —
    * linear tree size (a when-chain fold would reference its accumulator
    * twice per level and grow the tree 2^nlist). */
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
    val (root, v, side, data) = IvfIndex.open(spark, path)
    new IvfPqIndex(new IvfIndex(data, side), readCodebooks(spark, root, v))
  }

  private def readCodebooks(
      spark: SparkSession, root: Path, v: Long): Array[Array[Array[Double]]] = {
    val bookRows = IvfIndex.readIndexSub(spark, root, "codebooks", v).collect()
    Array.tabulate(bookRows.map(_.getInt(0)).max + 1) { s =>
      bookRows.filter(_.getInt(0) == s).sortBy(_.getInt(1))
        .map(_.getSeq[Double](2).toArray)
    }
  }

  /** Incremental append — the core's [[IvfIndex.appendWith]] (nearest
    * EXISTING coarse centroid, per-list drift gate, only touched list
    * partitions rewritten in one [[CommitLog]] manifest) with this
    * codec: new vectors are PQ-encoded with the FROZEN codebooks — like
    * the coarse centroids, they only move on rebuild, which is exactly
    * what the drift gate decides. */
  def append(
      spark: SparkSession,
      path: String,
      newRows: DataFrame,
      maxDriftRatio: Double = 4.0,
      minRowsForDrift: Long = 50L): Map[Int, IvfIndex.ListAppendStats] =
    IvfIndex.appendWith(spark, path, newRows, maxDriftRatio, minRowsForDrift) {
      (root, v, side, _) =>
        require(newRows.columns.contains(side.idCol) &&
          newRows.columns.contains(side.vecCol),
          s"append needs columns ${side.idCol}, ${side.vecCol}")
        val books = readCodebooks(spark, root, v)
        assigned => encode(withSource(assigned, side.centroids,
          side.residual.getOrElse(false)), side.idCol, books)
    }
}
