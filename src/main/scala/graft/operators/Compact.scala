package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction for parquet stores — the table-maintenance pass
  * every trickle-ingested store needs: thousands of per-batch files turn
  * a 100 TB scan into a listing + task-scheduling bottleneck (one task
  * per tiny file) long before I/O matters.
  *
  * Protocol: stage the rewritten files FULLY, row-count-check them, then
  * publish one [[CommitLog]] manifest that swaps them for the files they
  * replace (same crash posture as every log writer: nothing is visible
  * before the manifest CAS). Data content is preserved exactly; file
  * layout is not (that is the point). Use [[Layout]]
  * writers instead when the rewrite should also re-order rows.
  */
object Compact {

  /** files and bytes before/after, for the caller's telemetry. */
  final case class CompactStats(
      filesBefore: Int, filesAfter: Int, bytes: Long, rows: Long)

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(spark: SparkSession, dir: Path) =
    fsOf(spark, dir).listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))

  /** Exact row count from the parquet FOOTERS — driver-side metadata
    * reads, no cluster job. Both the no-op stats and the pre/post-commit
    * parity check use this: compaction must never need a full data scan
    * just to count (at 100 TB the no-op probe would otherwise cost as
    * much as the rewrite it avoids). */
  private def footerRows(
      spark: SparkSession,
      files: Array[org.apache.hadoop.fs.FileStatus]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Footer-based row count summed across several dirs — for callers
    * (e.g. StreamOps' batch-partition folds) that need the same
    * no-cluster-job parity check over a set of partition dirs. */
  private[graft] def footerRowsIn(spark: SparkSession, dirs: Seq[Path]): Long =
    dirs.map(d => footerRows(spark, dataFiles(spark, d))).sum

  /** Same footer-only count over an explicit FILE list (a commit-log
    * snapshot's files, which need no directory listing at all). */
  private[graft] def footerRowsOf(spark: SparkSession, files: Seq[Path]): Long =
    files.map(p =>
      footerRows(spark, Array(fsOf(spark, p).getFileStatus(p)))).sum

  /** Compact one flat store to ~`targetFileBytes` files. Returns the
    * stats; no-ops (and skips the rewrite entirely) when the store
    * already has ≤ the target file count. A plain parquet dir is adopted
    * first ([[CommitLog.adopt]]); the rewrite is row-count-checked from
    * footers and published as one whole-store manifest, so read the
    * result through [[CommitLog.read]] (the replaced files stay on disk
    * until [[CommitLog.vacuum]]). */
  def compactDir(
      spark: SparkSession,
      dir: String,
      targetFileBytes: Long = 128L << 20): CompactStats = {
    val target = new Path(dir)
    val fs = fsOf(spark, target)
    CommitLog.adopt(spark, target)
    val readVersion = CommitLog.currentVersion(fs, target)
    val files = CommitLog.snapshotFiles(fs, target, readVersion)
      .map(f => fs.getFileStatus(new Path(target, f))).toArray
    val bytes = files.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val before = footerRows(spark, files)
    if (files.length <= nOut)
      return CompactStats(files.length, files.length, bytes, before)

    val staging = Swap.Suffix.staging(target, Swap.newTag())
    // coalesce, not repartition: each writer task reads its own share of
    // the input and nothing is shuffled (see docs/scale-sizing.md §10)
    CommitLog.read(spark, target, Some(readVersion)).get
      .coalesce(nOut).write.parquet(staging.toString)
    val staged = dataFiles(spark, staging)
    val after = footerRows(spark, staged)
    if (after != before) {
      fs.delete(staging, true)
      throw new IllegalStateException(
        s"compaction row mismatch for $dir: $before -> $after (store untouched)")
    }
    CommitLog.commitStaged(spark, target, staging, readVersion,
      Nil, wholeStore = true)
    CompactStats(files.length, staged.length, bytes, before)
  }

  /** Compact a hive-partitioned store ([[CommitLog]]-backed; a plain
    * partitioned dir is adopted first): each fragmented partition rewrites into ~target-sized files and
    * commits its own manifest (removed = the partition's live files,
    * added = the compacted ones), so compaction is just another
    * optimistic writer — it runs lock-free beside ingest into OTHER
    * partitions, and a race on the SAME partition resolves to one winner
    * (the loser's ConflictException here is swallowed per partition:
    * maintenance losing to ingest is the correct outcome, the partition
    * just stays fragmented until the next tick). File liveness comes
    * from the manifest, never listStatus — a log store's dirs may hold
    * since-removed files awaiting vacuum and orphans from crashed
    * writers, and compacting THOSE back in would resurrect deleted
    * rows. */
  def compactLogStore(
      spark: SparkSession,
      storePath: String,
      pcol: String,
      targetFileBytes: Long = 128L << 20,
      maxFilesPerDir: Int = 8): Map[String, CompactStats] = {
    val root = new Path(storePath)
    val fs = fsOf(spark, root)
    CommitLog.adopt(spark, root)
    val readVersion = CommitLog.currentVersion(fs, root)
    val live = CommitLog.snapshotFiles(fs, root, readVersion)
    val byDir = live.groupBy(f => f.takeWhile(_ != '/'))
      .filter { case (d, fls) => d.startsWith(pcol + "=") && fls.length > maxFilesPerDir }
    // the recorded schema; a store without one is inferred once, not per dir
    lazy val schema = CommitLog.schemaAt(fs, root, readVersion).getOrElse(
      CommitLog.readFilesAt(spark, root, readVersion, byDir.values.flatten.toSeq).get.schema)
    byDir.flatMap { case (dirName, rels) =>
      val files = rels.map(r => fs.getFileStatus(new Path(root, r))).toArray
      val bytes = files.map(_.getLen).sum
      val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      val before = footerRows(spark, files)
      if (files.length <= nOut) None
      else {
        val staging = Swap.Hidden.staging(root, Swap.newTag())
        spark.read.schema(schema)
          .option("basePath", root.toString)
          .parquet(files.map(_.getPath.toString): _*)
          .drop(pcol) // partition col re-materializes from the dir name
          .coalesce(nOut)
          .write.parquet(new Path(staging, dirName).toString)
        val staged = dataFiles(spark, new Path(staging, dirName))
        val after = footerRows(spark, staged)
        if (after != before) {
          fs.delete(staging, true)
          throw new IllegalStateException(
            s"compaction row mismatch for $storePath/$dirName: " +
              s"$before -> $after (store untouched)")
        }
        try {
          CommitLog.commitStaged(spark, root, staging, readVersion,
            Seq(dirName), wholeStore = false)
          Some(dirName -> CompactStats(files.length, staged.length, bytes, before))
        } catch {
          case _: CommitLog.ConflictException => None // ingest won; next tick
        }
      }
    }
  }
}
