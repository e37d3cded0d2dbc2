package graft.operators

import graft.flow.SparkTestSession
import org.apache.hadoop.fs.Path
import org.apache.spark.graft.JobTrace
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Job and shuffle gate for commit-log maintenance: compaction reads with
  * the log's schema and never shuffles, and a partition-scoped upsert
  * takes its old partition dirs from the planner's file listing instead
  * of scanning for them (docs/scale-sizing.md §10). */
class StoreMaintenanceJobsSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** 400 orders over 4 shards, each of the 4 source partitions holding
    * rows of every shard: Merge.into writes 4 files into each shard dir. */
  private def loadedStore(): String = {
    val store = java.nio.file.Files.createTempDirectory("graft_maint_jobs").toString + "/s"
    Merge.into(spark, store, orders((1 to 400).map(i => (i.toLong, i % 7))).repartition(4),
      Seq("order_id"), prunePartitions = Some("shard"))
    store
  }

  private def orders(rows: Seq[(Long, Int)]): DataFrame =
    rows.toDF("order_id", "priority")
      .withColumn("shard", pmod(col("order_id"), lit(4L)).cast("int"))

  private def liveByDir(store: String): Map[String, Int] = {
    val p = new Path(store)
    val fs = Swap.fsOf(spark, p)
    CommitLog.snapshotFiles(fs, p, CommitLog.currentVersion(fs, p))
      .groupBy(_.takeWhile(_ != '/')).map { case (d, files) => d -> files.size }
  }

  test("compactLogStore runs one job per compacted dir and writes no shuffle") {
    val store = loadedStore()
    assert(liveByDir(store) == (0 until 4).map(s => s"shard=$s" -> 4).toMap)
    val before = CommitLog.read(spark, new Path(store)).get
      .agg(count(lit(1)), sum("priority")).head()
    val (stats, counts) = JobTrace(spark.sparkContext)(
      Compact.compactLogStore(spark, store, "shard", maxFilesPerDir = 1))
    assert(stats.keySet == (0 until 4).map(s => s"shard=$s").toSet, stats)
    assert(stats.values.forall(s => s.filesBefore == 4 && s.filesAfter == 1), stats)
    assert(counts == JobTrace.Counts(jobs = 4, shuffleBytes = 0L), counts)
    assert(liveByDir(store).values.forall(_ == 1))
    assert(CommitLog.read(spark, new Path(store)).get
      .agg(count(lit(1)), sum("priority")).head() == before)
  }

  test("a store with no recorded schema is inferred once per compaction, " +
    "not once per dir") {
    val store = java.nio.file.Files.createTempDirectory("graft_maint_plain").toString + "/s"
    orders((1 to 400).map(i => (i.toLong, i % 7))).repartition(4)
      .write.partitionBy("shard").parquet(store) // plain parquet: adopted
    val (stats, counts) = JobTrace(spark.sparkContext)(
      Compact.compactLogStore(spark, store, "shard", maxFilesPerDir = 1))
    assert(stats.size == 4, stats)
    assert(counts == JobTrace.Counts(jobs = 5, shuffleBytes = 0L), counts)
    assert(CommitLog.read(spark, new Path(store)).get.count() == 400)
  }

  test("a partition-scoped upsert runs no scan to find its partition dirs") {
    val store = loadedStore()
    // 20 changed orders of shard 1 and 5 new ones in shard 2
    val updates = orders((1L to 77L by 4).map(k => (k, 9)) ++ (1001L to 1017L by 4).map(k => (k, 8)))
    val (_, counts) = JobTrace(spark.sparkContext)(
      Merge.into(spark, store, updates, Seq("order_id"), prunePartitions = Some("shard")))
    // the duplicate-key probe, the touched-partition collect and the
    // rewrite; an input_file_name() scan for the touched dirs costs 4 more
    assert(counts.jobs == 8, counts)
    val got = CommitLog.read(spark, new Path(store)).get
    assert(got.count() == 405)
    assert(got.filter($"priority" === 9).count() == 20)
  }
}
