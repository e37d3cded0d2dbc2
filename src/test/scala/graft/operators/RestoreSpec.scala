package graft.operators

import java.nio.file.Files

import graft.flow.SparkTestSession
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** RESTORE: rollback as a forward commit — old state back, history
  * intact, O(metadata), vacuumed targets refused. */
class RestoreSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString
  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def vals(store: String, v: Option[Long] = None): Map[Long, String] =
    CommitLog.read(spark, new Path(store), v).get
      .select("k", "v").as[(Long, String)].collect().toMap

  test("restore brings the old state back as a NEW version; every " +
    "intermediate version stays readable") {
    val store = tmp("graft_rst") + "/s"
    Merge.into(spark, store,
      (1L to 20L).map(k => (k, "v" + k)).toDF("k", "v"), Seq("k")) // v1
    Merge.into(spark, store,
      Seq((1L, "BROKEN"), (99L, "junk")).toDF("k", "v"), Seq("k")) // v2
    Delete.where(spark, store, $"k" % 5 === 0)            // v3
    val restored = CommitLog.restore(spark, new Path(store), 1L)
    assert(restored == 4L)
    assert(vals(store) == (1L to 20L).map(k => k -> ("v" + k)).toMap)
    // the bad deploy is still auditable
    assert(vals(store, Some(2L))(1L) == "BROKEN")
    assert(!vals(store, Some(3L)).contains(5L))
    // and the table keeps living after the restore
    Merge.into(spark, store, Seq((21L, "v21")).toDF("k", "v"), Seq("k"))
    assert(vals(store).size == 21)
  }

  test("restore to the tip is a no-op; out-of-range versions refuse") {
    val store = tmp("graft_rst_noop") + "/s"
    Merge.into(spark, store,
      Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    val v = CommitLog.currentVersion(fs, new Path(store))
    assert(CommitLog.restore(spark, new Path(store), v) == v)
    assert(CommitLog.currentVersion(fs, new Path(store)) == v)
    intercept[IllegalArgumentException] {
      CommitLog.restore(spark, new Path(store), v + 7)
    }
  }

  test("history lists every commit with its operation and file deltas") {
    val store = tmp("graft_hist") + "/s"
    Merge.into(spark, store,
      (1L to 20L).map(k => (k, "v" + k)).toDF("k", "v"), Seq("k"))
    Delete.where(spark, store, $"k" % 5 === 0)
    CommitLog.restore(spark, new Path(store), 1L)
    val h = CommitLog.history(spark, new Path(store))
      .select("version", "operation")
      .as[(Long, String)].collect().toMap
    assert(h.keySet == Set(1L, 2L, 3L))
    assert(h(2L) == "delete" && h(3L) == "restore:1")
    val deltas = CommitLog.history(spark, new Path(store))
      .select("version", "n_added", "n_removed")
      .as[(Long, Long, Long)].collect()
      .map { case (v, a, r) => v -> ((a, r)) }.toMap
    assert(deltas(3L)._1 > 0 && deltas(3L)._2 > 0,
      "restore must both re-add old files and remove current ones")
  }

  test("a version whose files were vacuumed cannot be restored") {
    val store = tmp("graft_rst_vac") + "/s"
    Merge.into(spark, store,
      (1L to 10L).map(k => (k, "v" + k)).toDF("k", "v"), Seq("k")) // v1
    Merge.into(spark, store,
      (1L to 10L).map(k => (k, "x" + k)).toDF("k", "v"), Seq("k")) // v2 rewrite
    CommitLog.vacuum(spark, new Path(store), retainVersions = 1,
      orphanGraceMs = 0L)
    intercept[IllegalArgumentException] {
      CommitLog.restore(spark, new Path(store), 1L)
    }
    // tip unaffected by the refused restore
    assert(vals(store)(3L) == "x3")
  }
}
