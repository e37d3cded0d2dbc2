package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension Type 2 maintenance: the history-keeping form
  * of the A18 dimension contract (DimUpsert keeps only current rows; SCD2
  * keeps every version with a validity interval).
  *
  * Store schema = natural key + attribute columns + bookkeeping:
  * `valid_from` (timestamp this version took effect), `valid_to` (NULL =
  * open/current), `is_current`. Applying a batch:
  *  - a key whose attributes CHANGED closes the current version
  *    (`valid_to` = batch time) and appends a new open one;
  *  - an unchanged key is untouched (no version churn);
  *  - a brand-new key appends its first open version;
  *  - keys absent from the batch are untouched (batches are deltas).
  *
  * Key matching is NULL-SAFE (`<=>`): a NULL natural key — dubious but
  * possible in source data — is ONE key value, matched and versioned like
  * any other; with plain `=` it would never match itself and every batch
  * would append another open version for it.
  *
  * Scale notes: attribute comparison happens on the CURRENT slice only
  * (`is_current`), joined on the natural key — dimension-sized, not
  * fact-sized. The store is laid out in SLICES (hive partitions on a
  * synthetic column): `open` holds all current versions; `c<yyyy-MM>`
  * holds the versions CLOSED in that month. A batch rewrites exactly two
  * slice dirs — `open` and the batch month's closed slice — as one
  * [[CommitLog]] manifest; a 100 TB-era dimension's history
  * accumulated over years is untouched on disk by a trickle batch, and
  * never even scanned (the read is partition-pruned to the two touched
  * slices).
  */
object Scd2 {

  /** Synthetic hive-partition column carrying the slice a version lives
    * in. Present only on disk / raw reads; [[apply]] and [[read]] return
    * the logical schema without it. */
  val SliceCol = "graft_slice"
  private[graft] val OpenSlice = "open"
  /** Closed-version slice for a batch timestamp: its calendar month. */
  private def closedSlice(batchTs: String): String = "c" + batchTs.substring(0, 7)

  /** The raw sliced store at its commit-log tip. A store written before
    * the log is adopted first ([[CommitLog.adopt]], which also rolls
    * forward a swap its legacy writer left half done). A store that has
    * closed slices but no open slice has lost its current versions:
    * reading on would silently reopen every key as new, so it fails
    * loudly instead. */
  private def readSliced(spark: SparkSession, path: String): DataFrame = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = Swap.fsOf(spark, target)
    CommitLog.adopt(spark, target)
    val v = CommitLog.currentVersion(fs, target)
    requireOpenSlice(target, CommitLog.snapshotFiles(fs, target, v))
    CommitLog.read(spark, target, Some(v)).getOrElse(
      throw new IllegalStateException(s"SCD2 store $path is empty"))
  }

  private def requireOpenSlice(
      target: org.apache.hadoop.fs.Path, files: Seq[String]): Unit = {
    val slices = files
      .map(_.takeWhile(_ != '/')).filter(_.startsWith(SliceCol + "=")).distinct
    if (slices.nonEmpty && !slices.contains(SliceCol + "=" + OpenSlice))
      throw new IllegalStateException(
        s"SCD2 store $target has closed slices [${slices.sorted.mkString(",")}] " +
          s"but no $SliceCol=$OpenSlice dir — current versions are missing; " +
          "restore the store manually")
  }

  /** The store with the slice column dropped — the logical SCD2 table. */
  def read(spark: SparkSession, path: String): DataFrame =
    readSliced(spark, path).drop(SliceCol)

  /** Apply one delta batch to the SCD2 store at `path`. `batchTs` is the
    * effectivity timestamp ("yyyy-MM-dd HH:mm:ss"); passing it explicitly
    * (not now()) keeps replays deterministic.
    *
    * Optimistic concurrency on the two touched slice dirs: two applies
    * race on `open` by construction, so one wins and the other gets a
    * ConflictException to re-run; readers pin snapshots, and maintenance
    * on disjoint slices runs beside the writer.
    * @return the updated store, read back. */
  def apply(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keyCol: String,
      batchTs: String): DataFrame = {
    val attrCols = batch.columns.filterNot(_ == keyCol).toSeq
    require(attrCols.nonEmpty, "SCD2 needs at least one attribute column")
    require(!batch.columns.contains(SliceCol),
      s"$SliceCol is reserved for the store layout")
    // one version per key per batch — same multi-match rule as SQL MERGE.
    // groupBy buckets NULL keys together, so duplicate NULLs are caught too.
    val dup = batch.groupBy(keyCol).agg(count(lit(1)).as("graft_n"))
      .filter(col("graft_n") > 1).limit(1).count()
    require(dup == 0, s"batch has multiple rows for the same $keyCol")
    val ts = to_timestamp(lit(batchTs))
    val asVersion = batch
      .withColumn("valid_from", ts)
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))

    val target = new org.apache.hadoop.fs.Path(path)
    val fs = Swap.fsOf(spark, target)
    CommitLog.adopt(spark, target)
    val (readVersion, files) = {
      val v = CommitLog.currentVersion(fs, target)
      val files = CommitLog.snapshotFiles(fs, target, v)
      if (!migrateLegacyLayout(spark, target, v, files)) (v, files)
      else {
        val migrated = CommitLog.currentVersion(fs, target)
        (migrated, CommitLog.snapshotFiles(fs, target, migrated))
      }
    }
    val staging = Swap.Suffix.staging(target, Swap.newTag())
    if (files.isEmpty) {
      asVersion.withColumn(SliceCol, lit(OpenSlice))
        .write.partitionBy(SliceCol).parquet(staging.toString)
      CommitLog.commitStaged(spark, target, staging, readVersion,
        Nil, wholeStore = true)
      return read(spark, path)
    }
    requireOpenSlice(target, files)

    val slice = closedSlice(batchTs)
    val store = CommitLog.read(spark, target, Some(readVersion)).get
    // partition-pruned reads: only the open slice (current versions) and
    // this month's closed slice are ever scanned; other history slices
    // stay cold
    val current = store.filter(col(SliceCol) === OpenSlice).drop(SliceCol)
    val sliceRows = store.filter(col(SliceCol) === slice).drop(SliceCol)

    // attribute-change detection on the current slice: null-safe equality
    // per attribute (a NULL→value or value→NULL flip IS a change)
    val changedPred = attrCols
      .map(a => !(col(s"cur.$a") <=> col(s"b.$a")))
      .reduce(_ || _)
    // graft_matched (never NULL on the batch side) tells matched from
    // unmatched — `b.key IS NOT NULL` can't, now that NULL is a valid key
    val joined = current.as("cur")
      .join(batch.withColumn("graft_matched", lit(true)).as("b"),
        col(s"cur.$keyCol") <=> col(s"b.$keyCol"), "left")
    val matched = col("graft_matched").isNotNull
    // current versions to CLOSE: matched by the batch with changed attrs
    val closed = joined
      .filter(matched && changedPred)
      .select(col("cur.*"))
      .withColumn("valid_to", ts)
      .withColumn("is_current", lit(false))
    // current versions kept open: unmatched, or matched-but-unchanged
    val keptOpen = joined
      .filter(!matched || !changedPred)
      .select(col("cur.*"))
    // batch rows that open a NEW version: new keys, or changed keys
    val changedKeys = closed.select(col(keyCol).as("graft_k"))
    val currentKeys = current.select(col(keyCol).as("graft_k"))
    val newVersions = asVersion
      .join(currentKeys, col(keyCol) <=> col("graft_k"), "left_anti")
      .unionByName(
        asVersion.join(changedKeys, col(keyCol) <=> col("graft_k"), "left_semi"))

    val updated = sliceRows.unionByName(closed)
      .withColumn(SliceCol, lit(slice))
      .unionByName(
        keptOpen.unionByName(newVersions).withColumn(SliceCol, lit(OpenSlice)))

    // staged write, then one manifest retiring the two touched slice
    // dirs' files (OCC-checked against commits since readVersion)
    val touchedSlices = Seq(OpenSlice, slice).distinct.map(SliceCol + "=" + _)
    updated.write.partitionBy(SliceCol).parquet(staging.toString)
    CommitLog.commitStaged(spark, target, staging, readVersion,
      touchedSlices, wholeStore = false)
    CommitLog.read(spark, target).get.drop(SliceCol)
  }

  /** One-time migration of a store written before the sliced layout
    * (flat parquet, no `graft_slice=` dirs; adopted as-is): derive each
    * row's slice and rewrite once as a whole-store commit. Returns
    * whether it committed. */
  private def migrateLegacyLayout(
      spark: SparkSession,
      target: org.apache.hadoop.fs.Path,
      version: Long,
      files: Seq[String]): Boolean = {
    if (files.isEmpty || files.exists(_.startsWith(SliceCol + "="))) return false
    val legacy = CommitLog.read(spark, target, Some(version)).get
    // a non-current version with NULL valid_to would land in the hive
    // default partition, which asOfStore's slice pruning silently drops
    // from every point-in-time read — reject the malformed store instead
    val malformed = legacy
      .filter(!col("is_current") && col("valid_to").isNull).limit(1).count()
    require(malformed == 0,
      s"legacy SCD2 store $target has closed versions with NULL valid_to — " +
        "cannot derive their slice; repair the store before migrating")
    val withSlice = legacy.withColumn(SliceCol,
      when(col("is_current"), lit(OpenSlice))
        .otherwise(concat(lit("c"), date_format(col("valid_to"), "yyyy-MM"))))
    val staging = Swap.Suffix.staging(target, Swap.newTag())
    withSlice.write.partitionBy(SliceCol).parquet(staging.toString)
    CommitLog.commitStaged(spark, target, staging, version, Nil, wholeStore = true)
    true
  }

  /** Table maintenance: compact slice dirs that trickle batches have
    * fragmented. Every apply() stages a fresh rewrite of the open slice
    * plus this month's closed slice, so a store fed one small batch at a
    * time accumulates small files in exactly those hot dirs — the
    * listing/task-scheduling small-file failure mode Compact exists for.
    * Cold month slices keep their files untouched (Compact skips dirs at
    * or under `maxFilesPerDir`). Content-preserving; each slice commits
    * its own manifest, so maintenance runs beside writers on other
    * slices and loses politely on the hot ones. Then it vacuums (default
    * retention: the tip and the version before it): every apply retires
    * the slice files it rewrites, and maintenance is when they leave the
    * disk. */
  def maintain(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L << 20,
      maxFilesPerDir: Int = 8): Map[String, Compact.CompactStats] = {
    val stats =
      Compact.compactLogStore(spark, path, SliceCol, targetFileBytes, maxFilesPerDir)
    CommitLog.vacuum(spark, new org.apache.hadoop.fs.Path(path))
    stats
  }

  /** Point-in-time lookup: the version of each key valid at `asOf`. */
  def asOf(store: DataFrame, asOfTs: String): DataFrame = {
    val ts = to_timestamp(lit(asOfTs))
    store.filter(col("valid_from") <= ts &&
      (col("valid_to").isNull || col("valid_to") > ts))
  }

  /** Point-in-time lookup straight off the sliced store, partition-pruned:
    * a version valid at T is either open, or closed AFTER T — i.e. lives
    * in a `c<yyyy-MM>` slice with month ≥ month(T) (slice names are
    * zero-padded, so the lexicographic string comparison on the partition
    * column prunes at planning time). History closed before T's month —
    * the bulk of a years-old dimension — is never scanned. */
  def asOfStore(spark: SparkSession, path: String, asOfTs: String): DataFrame = {
    val pruned = readSliced(spark, path)
      .filter(col(SliceCol) === OpenSlice ||
        col(SliceCol) >= lit(closedSlice(asOfTs)))
      .drop(SliceCol)
    asOf(pruned, asOfTs)
  }
}
