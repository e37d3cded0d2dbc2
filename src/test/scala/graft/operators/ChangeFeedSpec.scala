package graft.operators

import java.nio.file.Files

import graft.flow.SparkTestSession
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Row-grain change data feed recovered from commit manifests: inserts /
  * updates / deletes per version, carried-over rows cancelling, bounded
  * windows, the incremental-consumer loop, and schema evolution inside a
  * window. */
class ChangeFeedSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def feed(store: String, from: Long, to: Long): Set[(Long, Long, String, String)] =
    ChangeFeed.between(spark, new Path(store), from, to, Seq("k"))
      .select(
        org.apache.spark.sql.functions.col(ChangeFeed.VersionCol),
        org.apache.spark.sql.functions.col("k"),
        org.apache.spark.sql.functions.col("v"),
        org.apache.spark.sql.functions.col("change_type"))
      .as[(Long, Long, String, String)].collect().toSet

  test("insert-only / update / delete versions each recover their exact " +
    "row-level change set; carried-over rows cancel") {
    val store = tmp("graft_cf") + "/s"
    // v1: full load
    Merge.into(spark, store,
      (1L to 6L).map(k => (k, "v" + k)).toDF("k", "v"), Seq("k"))
    // v2: update 2 keys, insert 1 — whole-store rewrite carries the rest
    Merge.into(spark, store,
      Seq((1L, "V1"), (2L, "V2"), (7L, "v7")).toDF("k", "v"), Seq("k"))
    // v3: delete 2 keys
    Delete.where(spark, store, $"k".isin(3L, 7L))

    assert(feed(store, 0, 1) == (1L to 6L).map(k => (1L, k, "v" + k, "insert")).toSet)
    assert(feed(store, 1, 2) == Set(
      (2L, 1L, "V1", "update"), (2L, 2L, "V2", "update"), (2L, 7L, "v7", "insert")))
    assert(feed(store, 2, 3) == Set(
      (3L, 3L, "v3", "delete"), (3L, 7L, "v7", "delete")))
    // full window is the union of the per-version sets
    assert(feed(store, 0, 3) == feed(store, 0, 1) ++ feed(store, 1, 2) ++ feed(store, 2, 3))
  }

  test("a partition-scoped merge feeds only the touched partition's " +
    "changes (untouched partitions never enter the diff)") {
    val store = tmp("graft_cf_part") + "/s"
    val init = (1L to 12L).map(k => (k, "v" + k, "p" + (k % 3))).toDF("k", "v", "p")
    Merge.into(spark, store, init, Seq("k"), prunePartitions = Some("p"))
    Merge.into(spark, store, Seq((3L, "NEW", "p0")).toDF("k", "v", "p"),
      Seq("k"), prunePartitions = Some("p"))
    val changes = ChangeFeed.between(spark, new Path(store), 1, 2, Seq("k"))
    assert(changes.select("k", "v", "change_type")
      .as[(Long, String, String)].collect().toSet == Set((3L, "NEW", "update")))
    // the manifest the diff read covers p=p0 files only
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = CommitLog.readManifest(fs, new Path(store), 2)
    assert((m.added ++ m.removed).forall(_.startsWith("p=p0/")))
  }

  test("since() is the incremental-consumer loop: poll, commit, poll again") {
    val store = tmp("graft_cf_since") + "/s"
    Merge.into(spark, store, Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    val (c1, tip1) = ChangeFeed.since(spark, new Path(store), 0, Seq("k"))
    assert(tip1 == 1 && c1.count() == 1)
    Merge.into(spark, store, Seq((2L, "b")).toDF("k", "v"), Seq("k"))
    val (c2, tip2) = ChangeFeed.since(spark, new Path(store), tip1, Seq("k"))
    assert(tip2 == 2)
    assert(c2.select("k", "change_type").as[(Long, String)].collect().toSet ==
      Set((2L, "insert")))
    // caught up: empty window yields an empty, unionable frame
    val (c3, tip3) = ChangeFeed.since(spark, new Path(store), tip2, Seq("k"))
    assert(tip3 == 2 && c3.count() == 0)
  }

  test("schema evolution inside the window: pre-evolution side is " +
    "null-extended, the union aligns to the widest schema") {
    val store = tmp("graft_cf_evo") + "/s"
    Merge.into(spark, store, Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      Seq("k"))
    Merge.into(spark, store,
      Seq((2L, "B", 9L), (3L, "c", 7L)).toDF("k", "v", "extra"),
      Seq("k"), evolveSchema = true)
    val changes = ChangeFeed.between(spark, new Path(store), 0, 2, Seq("k"))
      .select(
        org.apache.spark.sql.functions.col(ChangeFeed.VersionCol),
        org.apache.spark.sql.functions.col("k"),
        org.apache.spark.sql.functions.col("extra"),
        org.apache.spark.sql.functions.col("change_type"))
      .as[(Long, Long, Option[Long], String)].collect().toSet
    assert(changes == Set(
      (1L, 1L, None, "insert"), (1L, 2L, None, "insert"),
      (2L, 2L, Some(9L), "update"), (2L, 3L, Some(7L), "insert")))
  }

  test("window bounds are validated against store history") {
    val store = tmp("graft_cf_bounds") + "/s"
    Merge.into(spark, store, Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    intercept[IllegalArgumentException] {
      ChangeFeed.between(spark, new Path(store), 0, 99, Seq("k"))
    }
  }
}
