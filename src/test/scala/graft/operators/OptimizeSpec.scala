package graft.operators

import java.nio.file.Files

import graft.flow.SparkTestSession
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** OPTIMIZE ZORDER on commit-log stores: row preservation, snapshot
  * isolation of the pre-optimize version, measured manifest-stats
  * pruning on BOTH layout columns, and partition-layout preservation. */
class OptimizeSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  // deterministic pseudo-random grid: x and y decorrelated, both 0..255
  private def grid = (0L until 2048L).map { i =>
    (i, (i * 193) % 256, (i * 71 + 13) % 256)
  }.toDF("id", "x", "y")

  test("zorder preserves the row set exactly and the old version stays " +
    "readable (snapshot isolation)") {
    val store = tmp("graft_opt_rows") + "/s"
    Merge.into(spark, store, grid, Seq("id"))
    val v = Optimize.zorder(spark, store, Seq("x", "y"), numFiles = 8)
    assert(v == 2)
    val after = CommitLog.read(spark, new Path(store)).get
      .select("id", "x", "y").as[(Long, Long, Long)].collect().toSet
    assert(after == grid.as[(Long, Long, Long)].collect().toSet)
    // pre-optimize version readable bit for bit
    val v1 = CommitLog.read(spark, new Path(store), Some(1L)).get
    assert(v1.count() == 2048)
  }

  test("a range filter on the stats column prunes files via manifest " +
    "stats — the measured z-order payoff") {
    val store = tmp("graft_opt_prune") + "/s"
    Merge.into(spark, store, grid, Seq("id"))
    // 16 files → ~4 z-prefix bits; an x-range fixing x's top 2 bits
    // (x ≤ 31 of 0..255) pins 2 of those 4 prefix bits → ~1/4 of files
    // (plus range-boundary stragglers). The point is files hit scale
    // like √selectivity, not like ALL files.
    Optimize.zorder(spark, store, Seq("x", "y"), numFiles = 16)
    val p = new Path(store)
    val total = CommitLog.snapshotFiles(fs, p, CommitLog.currentVersion(fs, p)).size
    assert(total >= 12) // the rewrite actually spread files
    val hit = Optimize.prunedFiles(spark, p, 0L, 31L).size
    assert(hit <= total / 2, s"x-range hit $hit of $total files")
    // and the pruned read returns exactly the right rows
    val rows = Optimize.readRange(spark, p, 0L, 31L).get
      .filter($"x" <= 31).count()
    assert(rows == grid.filter($"x" <= 31).count())
  }

  test("partitioned store: layout survives, z-order clusters within " +
    "partitions, partition columns are rejected as layout columns") {
    val store = tmp("graft_opt_part") + "/s"
    val df = (0L until 512L).map(i => (i, (i * 193) % 256, "p" + (i % 2)))
      .toDF("id", "x", "p")
    Merge.into(spark, store, df, Seq("id"), prunePartitions = Some("p"))
    Optimize.zorder(spark, store, Seq("x", "id"), numFiles = 8)
    val p = new Path(store)
    val files = CommitLog.snapshotFiles(fs, p, CommitLog.currentVersion(fs, p))
    assert(files.forall(f => f.startsWith("p=p0/") || f.startsWith("p=p1/")))
    val out = CommitLog.read(spark, p).get
    assert(out.count() == 512)
    assert(out.filter($"p" === "p0").count() == 256)
    intercept[IllegalArgumentException] {
      Optimize.zorder(spark, store, Seq("p", "x"), numFiles = 4)
    }
  }

  test("optimize on an empty store is a no-op") {
    val store = tmp("graft_opt_empty") + "/s"
    // store with a log but no data: create log dir only
    fs.mkdirs(CommitLog.logDir(new Path(store)))
    assert(Optimize.zorder(spark, store, Seq("x"), numFiles = 4) == 0)
  }
}
