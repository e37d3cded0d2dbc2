package graft.operators

import java.nio.file.Files

import graft.flow.SparkTestSession
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** CDC apply_changes: per-key highest-sequence wins, interleaved
  * upserts/deletes land as one merge + one set-based delete, replays are
  * idempotent, and corrupt feeds (ties at the winning sequence) refuse
  * loudly. Plus Delete.whereIn's own contract (dataframe key sets,
  * composite keys, null semantics). */
class CdcSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def state(store: String): Map[Long, String] =
    CommitLog.read(spark, new Path(store)).get
      .select("k", "v").as[(Long, String)].collect().toMap

  test("highest sequence wins per key across interleaved I/U/D, " +
    "out-of-order arrivals lose") {
    val store = tmp("graft_cdc") + "/s"
    Merge.into(spark, store,
      (1L to 10L).map(k => (k, "base" + k)).toDF("k", "v"), Seq("k"))
    val feed = Seq(
      (1L, "upd1-late", 5L, "U"),  // wins for k=1
      (1L, "upd1-early", 2L, "U"), // loses (lower seq)
      (2L, "upd2", 3L, "U"),       // then deleted at seq 7
      (2L, "gone", 7L, "D"),
      (3L, "gone", 2L, "D"),       // deleted, then re-inserted at seq 9
      (3L, "reborn", 9L, "I"),
      (11L, "new11", 1L, "I"))     // fresh key
      .toDF("k", "v", "seq", "op")
    Cdc.applyChanges(spark, store, feed, Seq("k"), "seq", "op")
    val got = state(store)
    assert(got(1L) == "upd1-late")
    assert(!got.contains(2L))
    assert(got(3L) == "reborn")
    assert(got(11L) == "new11")
    assert(got(4L) == "base4") // untouched keys survive
    assert(got.size == 10)
  }

  test("re-applying the same feed is idempotent") {
    val store = tmp("graft_cdc_idem") + "/s"
    Merge.into(spark, store,
      (1L to 5L).map(k => (k, "base" + k)).toDF("k", "v"), Seq("k"))
    val feed = Seq(
      (1L, "u1", 2L, "U"), (2L, "x", 2L, "D"), (9L, "n9", 1L, "I"))
      .toDF("k", "v", "seq", "op")
    Cdc.applyChanges(spark, store, feed, Seq("k"), "seq", "op")
    val first = state(store)
    Cdc.applyChanges(spark, store, feed, Seq("k"), "seq", "op")
    assert(state(store) == first)
  }

  test("a tie at the winning sequence refuses loudly, store untouched") {
    val store = tmp("graft_cdc_tie") + "/s"
    Merge.into(spark, store,
      Seq((1L, "base")).toDF("k", "v"), Seq("k"))
    val v0 = CommitLog.currentVersion(
      new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(store))
    val bad = Seq((1L, "a", 3L, "U"), (1L, "b", 3L, "D"))
      .toDF("k", "v", "seq", "op")
    intercept[IllegalArgumentException] {
      Cdc.applyChanges(spark, store, bad, Seq("k"), "seq", "op")
    }
    assert(CommitLog.currentVersion(
      new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(store)) == v0)
    assert(state(store) == Map(1L -> "base"))
  }

  test("byte-identical redelivery (at-least-once transport) applies " +
    "cleanly; only DIFFERING payloads at the winning seq refuse") {
    val store = tmp("graft_cdc_redeliver") + "/s"
    Merge.into(spark, store,
      Seq((1L, "base")).toDF("k", "v"), Seq("k"))
    // the same action delivered twice — normal at-least-once output
    val feed = Seq((1L, "upd", 3L, "U"), (1L, "upd", 3L, "U"),
      (2L, "new", 1L, "I"), (2L, "new", 1L, "I"))
      .toDF("k", "v", "seq", "op")
    Cdc.applyChanges(spark, store, feed, Seq("k"), "seq", "op")
    assert(state(store) == Map(1L -> "upd", 2L -> "new"))
    // atomic path too
    Cdc.applyChangesAtomic(spark, store,
      Seq((3L, "x", 1L, "I"), (3L, "x", 1L, "I")).toDF("k", "v", "seq", "op"),
      Seq("k"), "seq", "op")
    assert(state(store) == Map(1L -> "upd", 2L -> "new", 3L -> "x"))
  }

  test("atomic apply of an insert-only batch keeps a hive-partitioned " +
    "store's layout (no flat files mixed under basePath)") {
    val store = tmp("graft_cdc_part") + "/s"
    Merge.into(spark, store,
      Seq((1L, "a", "p0"), (2L, "b", "p1")).toDF("k", "v", "p"),
      Seq("k"), prunePartitions = Some("p"))
    // insert-only: no existing file holds any winner key
    Cdc.applyChangesAtomic(spark, store,
      Seq((3L, "c", "p1", 1L, "I")).toDF("k", "v", "p", "seq", "op"),
      Seq("k"), "seq", "op")
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = CommitLog.snapshotFiles(fs, new Path(store),
      CommitLog.currentVersion(fs, new Path(store)))
    assert(files.forall(_.startsWith("p=")),
      s"insert-only batch wrote outside the partition layout: $files")
    // partition discovery still works and sees all three rows
    val out = CommitLog.read(spark, new Path(store)).get
    assert(out.select("k").as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(out.filter($"p" === "p1").count() == 2)
  }

  test("whereIn deletes by composite key from a dataframe key set; " +
    "null store keys stay") {
    val store = tmp("graft_cdc_in") + "/s"
    val rows = Seq[(Long, Option[String], String)](
      (1L, Some("a"), "x1"), (1L, Some("b"), "x2"),
      (2L, Some("a"), "x3"), (2L, None, "x4"))
      .toDF("k1", "k2", "v")
    // merge key = the composite (k1, k2)
    Merge.into(spark, store, rows, Seq("k1", "k2"))
    val kill = Seq((1L, "b"), (2L, "a"), (7L, "zz")).toDF("k1", "k2")
    val out = Delete.whereIn(spark, store, kill, Seq("k1", "k2"))
    val left = out.select("v").as[String].collect().toSet
    assert(left == Set("x1", "x4"), s"got $left")
  }
}
