package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `OPTIMIZE ... ZORDER BY` for commit-log stores — the table-format
  * maintenance command that rewrites a store's files along a Morton curve
  * so that filters on ANY of the layout columns touch few files, and
  * records the clustered per-file min/max in the commit manifest so range
  * reads prune DRIVER-SIDE before opening a single footer.
  *
  * Composition of three existing pieces: [[Layout.zValue]] (the codegen'd
  * bit-interleave), [[CommitLog.commitStaged]] (atomic whole-store
  * replace, snapshot-isolated readers keep the old layout until vacuum),
  * and the manifest stats channel (`statsCol`) that [[CommitLog.read]]ers
  * of keyed stores already prune by.
  *
  * Scale notes (100 TB): one min/max bounds aggregate (2 values per
  * layout column), one range exchange on the z-value, one in-partition
  * sort — the cost of any global sort, paid once at maintenance time. On
  * a hive-partitioned store the exchange keys on (partition cols, z), so
  * files cluster within partitions and the partition layout is preserved.
  * The rewrite commits `wholeStore` — it conflicts with every concurrent
  * writer by design (it replaces all files); schedule it like any table
  * maintenance. Readers pinned to older versions are unaffected.
  */
object Optimize {

  /** Rewrite the store z-ordered on `cols` across `numFiles` total
    * output files (range-partitioned on partition cols then z, so files
    * never straddle partitions); returns the committed version (input
    * version when the store is empty). Manifest stats are recorded for
    * `cols.head` — the column whose range reads benefit most (list first
    * the column you filter by most often). */
  def zorder(
      spark: SparkSession,
      targetPath: String,
      cols: Seq[String],
      numFiles: Int,
      bits: Int = 16): Long = {
    require(cols.nonEmpty, "zorder needs at least one layout column")
    require(numFiles > 0, "numFiles must be positive")
    val store = new Path(targetPath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitLog.adopt(spark, store)
    require(CommitLog.isLog(fs, store), s"OPTIMIZE target $targetPath does not exist")

    val readVersion = CommitLog.currentVersion(fs, store)
    val df = CommitLog.read(spark, store, Some(readVersion))
      .getOrElse(return readVersion)

    val files = CommitLog.snapshotFiles(fs, store, readVersion)
    val pcolsPerFile = files.map(CommitLog.partitionColsOf).distinct
    require(pcolsPerFile.size == 1,
      s"store files disagree on partition layout: $pcolsPerFile")
    val pcols = pcolsPerFile.head
    require(!cols.exists(pcols.contains),
      s"z-order columns ${cols.mkString(",")} must be data columns, not " +
        s"partition columns ${pcols.mkString(",")} (partitions already prune)")

    // bounds: one tiny aggregate — 2 doubles per layout column
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"min_$c"),
      max(col(c).cast("double")).as(s"max_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val bounds = cols.indices.map(i => (row.getDouble(2 * i), row.getDouble(2 * i + 1)))

    val z = df.withColumn("graft_z", Layout.zValue(cols.map(col), bounds, bits))
    val rangeKeys = (pcols.map(col) :+ col("graft_z"))
    val clustered = z
      .repartitionByRange(numFiles, rangeKeys: _*)
      .sortWithinPartitions(rangeKeys: _*)
      .drop("graft_z")

    val staging = Swap.Suffix.staging(store, Swap.newTag())
    val w = clustered.write
    (if (pcols.isEmpty) w else w.partitionBy(pcols: _*)).parquet(staging.toString)
    CommitLog.commitStaged(spark, store, staging, readVersion,
      retireNames = Nil, wholeStore = true,
      meta = Map("operation" -> s"optimize-zorder:${cols.mkString(",")}"),
      statsCol = Some(cols.head))
  }

  /** Files of the CURRENT snapshot whose manifest stats overlap
    * `[lo, hi]` on the store's recorded stats column — the driver-side
    * prune a z-ordered store buys. Files without stats are kept
    * conservatively. Exposed so callers (and specs) can measure the
    * prune ratio; readers use it to plan file-list scans. */
  def prunedFiles(
      spark: SparkSession,
      store: Path,
      lo: Any,
      hi: Any): Seq[String] = {
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = CommitLog.currentVersion(fs, store)
    CommitLog.snapshotFilesWithStats(fs, store, v).collect {
      case (f, None) => f
      case (f, Some(s)) if s.overlaps(lo, hi) => f
    }
  }

  /** Read only the files whose stats overlap `[lo, hi]` — the pruned
    * range scan over an optimized store. Equivalent to a full read
    * filtered to the range, but opens O(overlapping files). Callers
    * still apply their row-level filter (file grain is coarser). */
  def readRange(
      spark: SparkSession,
      store: Path,
      lo: Any,
      hi: Any): Option[DataFrame] = {
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = CommitLog.currentVersion(fs, store)
    CommitLog.readFilesAt(spark, store, v, prunedFiles(spark, store, lo, hi))
  }
}
