package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate store (materialized-view
  * maintenance): per-key mergeable statistics (count / sum / min / max —
  * avg derives as sum/n, plus an optional HLL sketch for approximate
  * COUNT DISTINCT — the one common statistic sum-algebra cannot carry)
  * kept in a parquet store and UPDATED per batch without ever rescanning
  * history.
  *
  * Why it matters at 100 TB: re-aggregating an append-only fact table
  * costs a full history scan per refresh; merging batch partials into a
  * key-sized store costs one shuffle of the BATCH plus a rewrite of the
  * (distinct-key-sized) store. This is the classic partial-aggregate
  * merge — the same algebra Spark's own partial/final aggregation uses,
  * persisted across batches.
  *
  * Store writes stage the folded store and publish it as one
  * [[CommitLog]] manifest — see Merge.
  */
object IncrementalAgg {

  /** Name of the batch high-water-mark file a legacy (pre-log) store
    * kept INSIDE its dir; [[CommitLog.adopt]] carries it into the first
    * manifest's `batchId` meta. */
  val BatchMarker = "_graft_last_batch"

  /** Fold one batch into the store at `path`.
    * Store schema: `keyCols* , n, sum, min, max` (+ `hll` binary when
    * `distinctCol` is set).
    *
    * Flat store: key-sized, every fold is a whole-store rewrite — two
    * concurrent folds conflict by design (one wins, the loser re-runs
    * against the new state). BUCKETED store (`buckets = Some(n)`): keys
    * hash into `kb = 0..n-1` hive partitions and a fold rewrites ONLY the
    * buckets the batch touched — at a billion-key store a trickle batch
    * touching 1% of buckets pays 1% of the rewrite. The bucket count
    * rides every commit's meta and is checked per fold (a different n
    * would hash keys into the wrong partitions and silently split
    * groups).
    *
    * @param batchId when set, recorded in the commit's manifest meta —
    *   committed atomically WITH the fold it describes, so there is no
    *   state where the fold is applied but the mark says otherwise (the
    *   exactly-once contract [[graft.streaming.StreamOps.applyAggBatchOnce]]
    *   relies on). A batch at or below the recorded mark is a replay and
    *   folds nothing.
    * @param distinctCol when set, the store also maintains a MERGEABLE
    *   HLL sketch of this column per key (Datasketches, via Spark's
    *   hll_sketch_agg/hll_union): incremental approximate COUNT DISTINCT
    *   — the statistic that, unlike count/sum/min/max, has no exact
    *   mergeable form smaller than the value set itself. Folding batch
    *   sketches is exactly as accurate as sketching the full history in
    *   one pass (union is the sketch's native operation), and the store
    *   stays key-sized. A store must be consistently built with or
    *   without it — checked loudly, never silently widened.
    * @return the updated store, read back. */
  def update(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      batchId: Option[Long] = None,
      distinctCol: Option[String] = None,
      buckets: Option[Int] = None): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(buckets.forall(_ > 0), "buckets must be positive when set")

    val baseAggs = Seq(
      count(col(valueCol)).as("n"),
      sum(col(valueCol)).cast("double").as("sum"),
      min(col(valueCol)).cast("double").as("min"),
      max(col(valueCol)).cast("double").as("max"))
    val aggs = baseAggs ++ distinctCol.map(c =>
      hll_sketch_agg(col(c)).as("hll")).toSeq
    val partial = batch.groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

    def checkShape(store: DataFrame): Unit = {
      val has = store.columns.contains("hll")
      require(has == distinctCol.isDefined,
        s"incremental-agg store $path was built ${if (has) "WITH" else "WITHOUT"} " +
          s"a distinct sketch but this update ${if (distinctCol.isDefined) "carries" else "lacks"} " +
          "one — rebuild the store or match the configuration")
    }

    val target = new org.apache.hadoop.fs.Path(path)
    val fs = Swap.fsOf(spark, target)
    CommitLog.adopt(spark, target)
    val readVersion = CommitLog.currentVersion(fs, target)
    val tipMeta = CommitLog.tipMeta(fs, target)
    if (readVersion > 0) {
      val storeBuckets = tipMeta.get("buckets").map(_.toInt)
      require(storeBuckets == buckets,
        s"incremental-agg store $path was built with buckets=$storeBuckets " +
          s"but this update passes buckets=$buckets — rebuild the store " +
          "or match the configuration")
    }
    // store-level replay guard, anchored at the SAME version the fold
    // reads: a batch at or below the manifest's high-water mark is a
    // replay and must not double-count. A racing fold that lands
    // between this read and the commit below CONFLICTS at the CAS
    // (wholeStore overlaps everything; bucketed folds carry the
    // SerialToken), so check-and-fold behave as one atomic step.
    val lastApplied = tipMeta.get("batchId").map(_.toLong).getOrElse(-1L)
    if (batchId.exists(_ <= lastApplied))
      return CommitLog.read(spark, target).getOrElse(partial.limit(0))
    val meta = batchId.map(id => Map("batchId" -> id.toString)).getOrElse(Map.empty) ++
      buckets.map(n => Map("buckets" -> n.toString)).getOrElse(Map.empty)
    val kbExpr = buckets.map(n => pmod(hash(keyCols.map(col): _*), lit(n)))

    buckets match {
      case None =>
        val existing = CommitLog.read(spark, target, Some(readVersion))
        val out = existing match {
          case None => partial
          case Some(store) => checkShape(store); foldInto(store, partial, keyCols)
        }
        val staging = Swap.Suffix.staging(target, Swap.newTag())
        out.write.parquet(staging.toString)
        CommitLog.commitStaged(spark, target, staging, readVersion,
          Nil, wholeStore = true, meta = meta)
      case Some(n) =>
        val partialKb = partial.withColumn("kb", kbExpr.get).persist()
        val touched = partialKb.select("kb").distinct()
          .collect().map(_.getInt(0)).sorted
        val existing = CommitLog.read(spark, target, Some(readVersion))
          .map { store =>
            checkShape(store)
            // partition-pruned: only the touched buckets' files scan
            store.filter(col("kb").isin(touched.map(Integer.valueOf).toSeq: _*))
              .drop("kb")
          }
        val out = existing match {
          case None => partialKb.drop("kb")
          case Some(store) => foldInto(store, partialKb.drop("kb"), keyCols)
        }
        val staging = Swap.Suffix.staging(target, Swap.newTag())
        out.withColumn("kb", kbExpr.get)
          .write.partitionBy("kb").parquet(staging.toString)
        CommitLog.commitStaged(spark, target, staging, readVersion,
          retireNames = touched.map("kb=" + _).toSeq, wholeStore = false,
          meta = meta,
          extraTouched = Seq(CommitLog.SerialToken)) // folds never commute with replays
        partialKb.unpersist()
    }
    CommitLog.read(spark, target).get
  }

  /** Mergeable-statistic combine over a full outer join: a key present
    * on one side only passes through; present on both → n+n, sum+sum,
    * min(min), max(max), hll_union(hll, hll). */
  private def foldInto(
      store: DataFrame, partial: DataFrame, keyCols: Seq[String]): DataFrame = {
    val s = store.as("s")
    val p = partial.as("p")
    val joinCond = keyCols.map(k => col(s"s.$k") <=> col(s"p.$k")).reduce(_ && _)
    val keyOut = keyCols.map(k => coalesce(col(s"s.$k"), col(s"p.$k")).as(k))
    val hllOut =
      if (partial.columns.contains("hll"))
        Seq(when(col("s.hll").isNotNull && col("p.hll").isNotNull,
          hll_union(col("s.hll"), col("p.hll")))
          .otherwise(coalesce(col("s.hll"), col("p.hll"))).as("hll"))
      else Nil
    s.join(p, joinCond, "full_outer")
      .select(keyOut ++ Seq(
        (coalesce(col("s.n"), lit(0L)) + coalesce(col("p.n"), lit(0L))).as("n"),
        (coalesce(col("s.sum"), lit(0.0)) + coalesce(col("p.sum"), lit(0.0))).as("sum"),
        least(col("s.min"), col("p.min")).as("min"), // least/greatest skip NULLs
        greatest(col("s.max"), col("p.max")).as("max")) ++ hllOut: _*)
  }

  /** Read the store at its commit-log tip (a legacy store is adopted
    * first). */
  def readStore(spark: SparkSession, path: String): DataFrame = {
    val target = new org.apache.hadoop.fs.Path(path)
    CommitLog.adopt(spark, target)
    CommitLog.read(spark, target).getOrElse(
      throw new IllegalStateException(s"incremental-agg store $path is empty"))
  }

  /** Read the store with the derived average attached. */
  def withAvg(store: DataFrame): DataFrame =
    store.withColumn("avg",
      when(col("n") > 0, col("sum") / col("n")))

  /** Attach the HLL estimate (`approx_distinct`) — only meaningful on a
    * store maintained with `distinctCol`. */
  def withDistinct(store: DataFrame): DataFrame = {
    require(store.columns.contains("hll"),
      "store was not built with a distinct sketch (pass distinctCol to update)")
    store.withColumn("approx_distinct", hll_sketch_estimate(col("hll")))
  }
}
