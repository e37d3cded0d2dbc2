package graft.operators

import java.nio.file.Files

import graft.flow.SparkTestSession
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Manifest metadata channels added on top of the file lists: CHECK
  * constraints (declared once, enforced on every commit's added rows,
  * carried through checkpoints) and per-file row counts (O(metadata)
  * COUNT(*)). */
class LogMetaSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("a commit violating a declared CHECK constraint is refused loudly, " +
    "store untouched; conforming commits pass") {
    val store = tmp("graft_meta_chk") + "/s"
    Merge.into(spark, store, Seq((1L, 10.0), (2L, 20.0)).toDF("k", "price"),
      Seq("k"))
    CommitLog.setConstraint(spark, new Path(store), "positive_price", "price > 0")
    val vBefore = CommitLog.currentVersion(fs, new Path(store))

    val ex = intercept[CommitLog.ConstraintException] {
      Merge.into(spark, store, Seq((3L, -5.0)).toDF("k", "price"), Seq("k"))
    }
    assert(ex.getMessage.contains("positive_price"))
    assert(CommitLog.currentVersion(fs, new Path(store)) == vBefore)
    assert(CommitLog.read(spark, new Path(store)).get.count() == 2)

    Merge.into(spark, store, Seq((3L, 5.0)).toDF("k", "price"), Seq("k"))
    assert(CommitLog.read(spark, new Path(store)).get.count() == 3)
  }

  test("declaring a constraint the EXISTING data violates is refused") {
    val store = tmp("graft_meta_exist") + "/s"
    Merge.into(spark, store, Seq((1L, -1.0)).toDF("k", "price"),
      Seq("k"))
    intercept[CommitLog.ConstraintException] {
      CommitLog.setConstraint(spark, new Path(store), "positive_price", "price > 0")
    }
    // nothing was declared: a violating commit now passes
    Merge.into(spark, store, Seq((2L, -2.0)).toDF("k", "price"), Seq("k"))
    assert(CommitLog.read(spark, new Path(store)).get.count() == 2)
  }

  test("NULL predicate rows PASS the check (SQL CHECK semantics), and " +
    "dropConstraint lifts enforcement") {
    val store = tmp("graft_meta_null") + "/s"
    Merge.into(spark, store, Seq((1L, Some(1.0))).toDF("k", "price"),
      Seq("k"))
    CommitLog.setConstraint(spark, new Path(store), "positive_price", "price > 0")
    // NULL price: predicate is NULL → passes
    Merge.into(spark, store,
      Seq((2L, None: Option[Double])).toDF("k", "price"), Seq("k"))
    assert(CommitLog.read(spark, new Path(store)).get.count() == 2)
    CommitLog.dropConstraint(spark, new Path(store), "positive_price")
    Merge.into(spark, store, Seq((3L, Some(-9.0))).toDF("k", "price"), Seq("k"))
    assert(CommitLog.read(spark, new Path(store)).get.count() == 3)
  }

  test("constraints survive checkpoints and manifest vacuum (the " +
    "declaring manifest can be gone; the checkpoint carries the set)") {
    val store = tmp("graft_meta_ckpt") + "/s"
    Merge.into(spark, store, Seq((0L, 1.0)).toDF("k", "price"),
      Seq("k"))
    CommitLog.setConstraint(spark, new Path(store), "positive_price", "price > 0")
    // push well past a checkpoint boundary (CheckpointEvery = 10)
    (1L to 12L).foreach { i =>
      Merge.into(spark, store, Seq((i, i.toDouble)).toDF("k", "price"), Seq("k"))
    }
    CommitLog.vacuum(spark, new Path(store), retainVersions = 2, orphanGraceMs = 0)
    // the v2 set-constraint manifest is vacuumed; enforcement must hold
    intercept[CommitLog.ConstraintException] {
      Merge.into(spark, store, Seq((99L, -1.0)).toDF("k", "price"), Seq("k"))
    }
  }

  test("fastCount answers COUNT(*) from manifest metadata through " +
    "merges, deletes, optimize, and checkpoints") {
    val store = tmp("graft_meta_cnt") + "/s"
    val p = new Path(store)
    def fast: Option[Long] =
      CommitLog.fastCount(fs, p, CommitLog.currentVersion(fs, p))
    def real: Long = CommitLog.read(spark, p).get.count()

    Merge.into(spark, store,
      (1L to 100L).map(k => (k, k * 2)).toDF("k", "x"), Seq("k"))
    assert(fast.contains(100L) && real == 100L)

    Delete.where(spark, store, $"k" % 10 === 0)
    assert(fast.contains(90L) && real == 90L)

    Optimize.zorder(spark, store, Seq("x"), numFiles = 4)
    assert(fast.contains(90L) && real == 90L)

    // cross a checkpoint; counts must survive replay-from-checkpoint
    (101L to 112L).foreach { i =>
      Merge.into(spark, store, Seq((i, i * 2)).toDF("k", "x"), Seq("k"))
    }
    assert(fast.contains(102L) && real == 102L)
  }
}
