package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-space clustering: nearest-centroid assignment as a narrow
  * codegen'd scan, k-means fitting under the driver-bounded-sample
  * contract, and SemDeDup-style semantic deduplication on top of both.
  *
  * Scale shape: centroids are bounded metadata (k × dim doubles — the
  * same contract as the IVF centroid tables), so the assignment pass is
  * a pure per-row map over literal centroids: no join, no shuffle, full
  * whole-stage codegen. The only shuffles anywhere here are the one
  * label×dim aggregate in [[labelCentroids]] and the per-cluster
  * repartition in [[semanticDedup]]'s bounded pairwise stage.
  */
object Clustering {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** d²(vec, literal centroid) as a left-to-right fold — the SAME op
    * order as the oracle's list_sum(list_transform(...)) replay, so a
    * rounded distance crosses rounding boundaries identically in both
    * engines. */
  def dist2ToCentroid(vec: Column, c: Array[Double]): Column =
    aggregate(
      zip_with(vec, typedLit(c.toSeq),
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0), (acc, v) => acc + v)

  /** struct(d2, id) of the nearest centroid: `array_min` over an array of
    * `struct(d, j)` literals, distances rounded to `roundTo` decimals
    * first. Struct ordering is lexicographic — smallest rounded distance,
    * then the LOWER centroid id on ties — exactly the LocalKMeans.assign
    * contract; the rounding exists so FP fold noise between engines lands
    * on the same rounded value and a genuine tie resolves by id in both.
    *
    * Why array_min and not a when()-fold (the round-9 fix): a fold
    * `when(d < acc.d, …).otherwise(acc)` references `acc` TWICE per
    * centroid, so the Catalyst tree doubles at every step — ~2^k copies of
    * the (already large) zip_with/aggregate distance expression. At k=10
    * that was ~24 s of analysis+codegen for 2,000 rows. Here every
    * distance expression appears exactly once: tree size is linear in k
    * and the whole thing stays inside whole-stage codegen. */
  def nearestStruct(
      vec: Column,
      centroids: Seq[(Int, Array[Double])],
      roundTo: Int = 6): Column = {
    require(centroids.nonEmpty, "no centroids")
    require(centroids.map(_._1) == centroids.map(_._1).sorted,
      "centroids must be in ascending id order (tie-break contract)")
    require(centroids.size <= 256,
      s"${centroids.size} centroids would inline ${centroids.size} literal " +
        "distance expressions; use IvfIndex for large-k routing")
    array_min(array(centroids.map { case (id, c) =>
      struct(round(dist2ToCentroid(vec, c), roundTo).as("d"), lit(id).as("j"))
    }: _*))
  }

  /** Nearest-centroid id (see [[nearestStruct]]). */
  def nearestCentroid(
      vec: Column,
      centroids: Seq[(Int, Array[Double])],
      roundTo: Int = 6): Column =
    nearestStruct(vec, centroids, roundTo).getField("j")

  /** Per-label elementwise-mean centroids, computed distributed: ONE
    * posexplode aggregate — (label, pos) partials combine map-side, so
    * at 100 TB only labels × dim rows cross the wire — collected as
    * bounded metadata (the IVF centroid-fetch contract). Components
    * round to 6 decimals so Spark and the DuckDB oracle quantize the
    * centroids identically before any distance math. */
  def labelCentroids(
      df: DataFrame,
      labelCol: String,
      vecCol: String): Seq[(Int, Array[Double])] = {
    val rows = df
      .select(col(labelCol).cast("int").as("l"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("p", "x")))
      .groupBy("l", "p").agg(avg("x").as("m"))
      .collect()
    rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (l, rs) =>
      val arr = rs.sortBy(_.getInt(1))
        .map(r => BigDecimal(r.getDouble(2))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        .toArray
      (l, arr)
    }
  }

  /** Fit k centroids with the deterministic driver-local k-means
    * (LocalKMeans) over a MANDATORY row-capped sample: the `maxFitRows`
    * lowest-id rows, fetched with `orderBy(id).limit(n)` — Spark plans
    * that as TakeOrderedAndProject (bounded per-partition heaps, driver
    * merge of exactly `maxFitRows` rows), so the driver copy is capped by
    * contract NO MATTER the input size. A fraction would not be: a
    * fraction of 100 TB is still unbounded (the round-9 q_semantic_dedup
    * failure mode — a sampling fraction of 1.0 collected the whole table).
    *
    * The id-prefix sample is deterministic and independent of upstream
    * partitioning (ids must be unique — the same contract every dedup
    * operator here already assumes). Below the cap it is the whole
    * dataset, so small-SF fits are bit-identical to the old full-collect
    * path. Returned centroids are in ascending-index order, components
    * rounded to 6 (the [[nearestStruct]] quantization contract). */
  def kmeansFit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      seed: Long = 42L,
      maxFitRows: Int = 65536): Seq[(Int, Array[Double])] = {
    require(maxFitRows > 0, s"maxFitRows must be positive, got $maxFitRows")
    val pts = df
      .select(col(idCol).cast("long").as("i"),
        col(vecCol).cast("array<double>").as("v"))
      .orderBy(col("i"))
      .limit(maxFitRows)
      .collect()
      .map(r => r.getSeq[Double](1).toArray)
    LocalKMeans.fit(pts, k, seed).zipWithIndex.map { case (c, j) =>
      (j, c.map(x =>
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toSeq
  }

  /** Assign every row to its nearest centroid: narrow, no shuffle.
    * Output adds `cluster` (int) and `d2` (rounded squared distance). */
  def assign(
      df: DataFrame,
      vecCol: String,
      centroids: Seq[(Int, Array[Double])]): DataFrame = {
    val ns = nearestStruct(col(vecCol), centroids)
    df.withColumn("graft_ns", ns)
      .withColumn("cluster", col("graft_ns.j"))
      .withColumn("d2", col("graft_ns.d"))
      .drop("graft_ns")
  }

  /** The bounded witness side of [[semanticDedup]]: per cluster, the
    * `maxWitnesses` most-senior (lowest-id) rows. ≤ k × maxWitnesses rows
    * TOTAL by construction — bounded metadata no matter the corpus size,
    * which is what makes the dedup join broadcastable.
    *
    * Common path (no cluster over the cap, checked with one k-row
    * aggregate): the witness side is `assigned` verbatim — no window, no
    * extra pass. Overflow path (logged loudly — overflow degrades dedup
    * coverage for the affected clusters): ONE grouped bounded-heap pass
    * computes every oversized cluster's cap'th-smallest id at once
    * (TopKAgg k-smallest → max per cluster — a single Spark job no
    * matter how many clusters run hot, not a per-cluster driver loop),
    * and a broadcast of those ≤ k threshold rows filters the witness
    * set. No window function anywhere, so nothing ever funnels a whole
    * cluster through one task. */
  private[operators] def witnessSide(
      assigned: DataFrame,
      idCol: String,
      maxWitnesses: Int): DataFrame = {
    val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val oversized = sizes.filter(_._2 > maxWitnesses).map(_._1).sorted
    if (oversized.isEmpty) assigned
    else {
      log.warn(
        s"semanticDedup: cluster(s) ${oversized.mkString(",")} exceed " +
          s"maxWitnesses=$maxWitnesses (sizes: ${sizes.toMap.view.filterKeys(oversized.contains).toMap}); " +
          "witness set capped to the most-senior rows — near-duplicates " +
          "junior to the cap in these clusters may survive. Raise k (smaller " +
          "clusters) or maxWitnesses to restore full coverage.")
      val over = assigned
        .filter(col("cluster").isin(oversized.map(Int.box): _*))
        .select(col("cluster"), col(idCol).cast("long").as("graft_i"))
      val thresholds = TopK.perKey(over, keys = Seq("cluster"),
          ordering = Seq("graft_i"), k = maxWitnesses, desc = false)
        .groupBy("cluster").agg(max("graft_i").as("graft_thresh"))
      assigned.join(broadcast(thresholds), Seq("cluster"), "left")
        .filter(col("graft_thresh").isNull ||
          col(idCol).cast("long") <= col("graft_thresh"))
        .drop("graft_thresh")
    }
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * near-duplicate pruning — cluster the embeddings, compare pairs ONLY
    * within a cluster, and drop every vector that has a more-senior
    * (lower-id) neighbor at cosine ≥ `threshold`. Clustering bounds the
    * quadratic term to Σ(cluster size)² instead of n²; missing the rare
    * cross-cluster duplicate is the paper's accepted approximation
    * (ClusteringSpec pins k=1 ≡ exact brute force). Chains resolve
    * seniority-first: in {a~b, b~c, a≁c} both b and c drop — every
    * dropped row names a lower-id within-cluster witness.
    *
    * Plan (the round-9 redesign — the old cluster-keyed self-join capped
    * parallelism at k tasks AND had no per-cluster pair bound, so one hot
    * cluster degenerated to n²):
    *  - fit on a row-capped sample ([[kmeansFit]], `maxFitRows`);
    *  - narrow literal-centroid [[assign]] — no shuffle;
    *  - WITNESS side = per-cluster seniority prefix ([[witnessSide]]),
    *    ≤ k × maxWitnesses rows by construction → broadcast it. The dedup
    *    "self-join" becomes a broadcast hash join on `cluster` probed by
    *    the full corpus: zero shuffle of the big side, parallelism = the
    *    corpus scan's partitioning, and per-row work ≤ maxWitnesses cosine
    *    evaluations — total pair count ≤ n × maxWitnesses, linear in n.
    *  - distinct dropped ids → left_anti back onto the input.
    *
    * When every cluster fits under `maxWitnesses` (small SF, or k chosen
    * so clusters are small — the SemDeDup paper's own regime) the witness
    * side is the whole corpus and the result is IDENTICAL to the
    * unbounded pairwise semantics. Overflow trades junior-vs-junior
    * comparisons in hot clusters for boundedness, loudly (see
    * [[witnessSide]]). */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      threshold: Double,
      seed: Long = 42L,
      maxFitRows: Int = 65536,
      maxWitnesses: Int = 10000): DataFrame = {
    val cents = kmeansFit(df, idCol, vecCol, k, seed, maxFitRows)
    val assigned = assign(df, vecCol, cents)
      .select(col("cluster"), col(idCol), col(vecCol))
    dropDominated(df, assigned, idCol, vecCol, threshold, maxWitnesses,
      roundedVerify = false)
  }

  /** [[semanticDedup]] with ORACLE-REPLAYABLE partitioning: clusters are
    * md5-hyperplane LSH buckets
    * ([[Similarity.replayableHyperplaneBucket]] — exact int64 plane
    * dots, no RNG anywhere) instead of k-means cells, and the dominance
    * verify applies the threshold to the ROUND-4 cosine (the
    * q_sim_pairs-proven cross-engine parity point). Same SemDeDup
    * semantics — drop every vector with a more-senior same-partition
    * neighbor at cosine ≥ threshold — and the same broadcast-witness
    * 100 TB shape, but the survivor set is a deterministic function of
    * the corpus that DuckDB replays verbatim: this is what promotes
    * q_semantic_dedup from rows-only to hash-gated (the k-means variant
    * stays, spec-gated — its k-means++ init draws from a seeded JVM RNG
    * no SQL can reproduce). Cross-BUCKET duplicates are the accepted
    * approximation, exactly as cross-cluster ones are for k-means.
    * `planes ≤ 0` (the default) self-tunes the cell count to the corpus
    * via [[Similarity.autoPlanes]] (min 3 → ≥ 8 cells, the SemDeDup
    * granularity this query has always used at fixture scale): cells ∝
    * n/128 keeps the within-cell quadratic pair mass flat as the corpus
    * grows — the knob the r13 sf1 sweep identified as the 7.4× slope —
    * and an oracle replays the same choice from COUNT(*). */
  def semanticDedupBuckets(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int = -1,
      maxWitnesses: Int = 10000): DataFrame = {
    val (n, dim) = Similarity.countAndDim(df, vecCol)
    val chosenPlanes =
      if (planes > 0) planes
      else Similarity.autoPlanes(n, minPlanes = 3)
    val assigned = df.select(
      Similarity.replayableHyperplaneBucket(col(vecCol), chosenPlanes, dim)
        .cast("int").as("cluster"),
      col(idCol), col(vecCol))
    dropDominated(df, assigned, idCol, vecCol, threshold, maxWitnesses,
      roundedVerify = true)
  }

  /** Shared tail of the semantic-dedup variants: broadcast the bounded
    * witness side, drop every row with a more-senior same-cluster
    * neighbor at cosine ≥ threshold (ROUND-4 cosine when
    * `roundedVerify` — the SQL-replayable comparison; raw cosine for
    * the spec-gated k-means path, preserving its historical
    * semantics). */
  private def dropDominated(
      df: DataFrame,
      assigned: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxWitnesses: Int,
      roundedVerify: Boolean): DataFrame = {
    val witnesses = witnessSide(assigned, idCol, maxWitnesses)
      .select(col("cluster"), col(idCol).as("graft_id_a"),
        col(vecCol).as("graft_va"))
    val probes = assigned.select(col("cluster"), col(idCol).as("graft_id_b"),
      col(vecCol).as("graft_vb"))
    val sim = Similarity.cosine(col("graft_va"), col("graft_vb"))
    val verify = if (roundedVerify) round(sim, 4) >= threshold else sim >= threshold
    val dropped = probes.join(broadcast(witnesses), Seq("cluster"))
      .filter(col("graft_id_a") < col("graft_id_b"))
      .filter(verify)
      .select(col("graft_id_b").as(idCol))
      .distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }
}
