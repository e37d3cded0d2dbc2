package graft.operators

import java.nio.file.Files

import graft.flow.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IncrementalAggSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshStore(): String =
    Files.createTempDirectory("graft_incragg").toString + "/agg"

  test("incremental maintenance equals direct aggregation over all batches") {
    val path = freshStore()
    val batches = Seq(
      Seq(("a", 1.0), ("a", 3.0), ("b", 10.0)),
      Seq(("a", 5.0), ("c", -2.0)),
      Seq(("b", 0.5), ("c", 7.0), ("c", 7.0)))
    batches.foreach { b =>
      IncrementalAgg.update(spark, path, b.toDF("k", "v"), Seq("k"), "v")
    }
    val got = IncrementalAgg.withAvg(IncrementalAgg.readStore(spark, path))
      .select("k", "n", "sum", "min", "max", "avg")
      .as[(String, Long, Double, Double, Double, Double)]
      .collect().sortBy(_._1)

    val want = batches.flatten.toDF("k", "v").groupBy("k").agg(
      count("v").as("n"), sum("v").as("sum"),
      min("v").as("min"), max("v").as("max"), avg("v").as("avg"))
      .select("k", "n", "sum", "min", "max", "avg")
      .as[(String, Long, Double, Double, Double, Double)]
      .collect().sortBy(_._1)

    assert(got.toSeq == want.toSeq)
  }

  test("keys only in the store or only in the batch pass through unchanged") {
    val path = freshStore()
    IncrementalAgg.update(spark, path, Seq(("old", 2.0)).toDF("k", "v"), Seq("k"), "v")
    val out = IncrementalAgg.update(spark, path,
      Seq(("new", 9.0)).toDF("k", "v"), Seq("k"), "v")
      .select("k", "n", "sum").as[(String, Long, Double)].collect().toSet
    assert(out == Set(("old", 1L, 2.0), ("new", 1L, 9.0)))
  }

  test("composite keys merge null-safely") {
    val path = freshStore()
    IncrementalAgg.update(spark, path,
      Seq((Option("x"), Option.empty[String], 1.0)).toDF("k1", "k2", "v"),
      Seq("k1", "k2"), "v")
    val out = IncrementalAgg.update(spark, path,
      Seq((Option("x"), Option.empty[String], 4.0)).toDF("k1", "k2", "v"),
      Seq("k1", "k2"), "v")
    // the NULL-keyed group merges (null-safe join), not duplicates
    assert(out.count() == 1)
    assert(out.select("n").as[Long].head() == 2L)
  }

  test("distinct sketch: incremental folds estimate like a one-shot " +
    "sketch, track exact cardinality closely, and shape mismatches " +
    "fail loudly") {
    val path = freshStore()
    // 3 batches, overlapping user ids per key: exact distinct is
    // |union|, NOT the sum of per-batch counts
    val batches = Seq(
      (0 until 400).map(i => ("a", i.toDouble, s"u${i % 200}")),
      (0 until 400).map(i => ("a", i.toDouble, s"u${100 + i % 200}")),
      (0 until 300).map(i => ("b", i.toDouble, s"v$i")))
    batches.foreach { b =>
      IncrementalAgg.update(spark, path, b.toDF("k", "v", "user"),
        Seq("k"), "v", distinctCol = Some("user"))
    }
    val got = IncrementalAgg.withDistinct(IncrementalAgg.readStore(spark, path))
      .select("k", "approx_distinct").as[(String, Long)].collect().toMap
    val exact = batches.flatten.toDF("k", "v", "user")
      .groupBy("k").agg(countDistinct("user").as("d"))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, d) =>
      val e = got(k)
      assert(math.abs(e - d).toDouble / d <= 0.02, s"$k: est $e vs exact $d")
    }
    // fold associativity: incremental union == one-shot sketch estimate
    val oneShot = batches.flatten.toDF("k", "v", "user")
      .groupBy("k").agg(hll_sketch_estimate(hll_sketch_agg(col("user"))).as("d"))
      .as[(String, Long)].collect().toMap
    assert(got == oneShot, s"incremental $got vs one-shot $oneShot")
    // a store built WITH the sketch refuses an update without it (and
    // vice versa) instead of silently changing shape
    val e1 = intercept[IllegalArgumentException] {
      IncrementalAgg.update(spark, path,
        Seq(("a", 1.0)).toDF("k", "v"), Seq("k"), "v")
    }
    assert(e1.getMessage.contains("rebuild the store"))
    val plain = freshStore()
    IncrementalAgg.update(spark, plain, Seq(("a", 1.0)).toDF("k", "v"), Seq("k"), "v")
    val e2 = intercept[IllegalArgumentException] {
      IncrementalAgg.update(spark, plain,
        Seq(("a", 1.0, "u")).toDF("k", "v", "user"), Seq("k"), "v",
        distinctCol = Some("user"))
    }
    assert(e2.getMessage.contains("rebuild the store"))
  }

  test("bucketed log store: maintenance equals direct aggregation, a " +
    "fold rewrites ONLY touched buckets, and config mismatches fail " +
    "loudly") {
    val path = freshStore()
    val store = new org.apache.hadoop.fs.Path(path)
    def fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // 40 keys over 8 buckets, then a second batch touching ONE key
    val b1 = (0 until 400).map(i => (s"k${i % 40}", i.toDouble))
    IncrementalAgg.update(spark, path, b1.toDF("k", "v"), Seq("k"), "v", buckets = Some(8))
    val before = CommitLog.snapshotFiles(fs, store,
      CommitLog.currentVersion(fs, store)).toSet
    IncrementalAgg.update(spark, path,
      Seq(("k7", 1000.0)).toDF("k", "v"), Seq("k"), "v", buckets = Some(8))
    val after = CommitLog.snapshotFiles(fs, store,
      CommitLog.currentVersion(fs, store)).toSet
    // exactly one kb partition's files changed
    val changedDirs = ((before diff after) ++ (after diff before))
      .map(_.split('/').head)
    assert(changedDirs.size == 1 && changedDirs.head.startsWith("kb="),
      changedDirs.toString)
    // and the content equals direct aggregation over everything
    val got = IncrementalAgg.readStore(spark, path)
      .select("k", "n", "sum").as[(String, Long, Double)]
      .collect().sortBy(_._1).toSeq
    val want = (b1 :+ (("k7", 1000.0))).toDF("k", "v").groupBy("k")
      .agg(count("v").as("n"), sum("v").as("sum"))
      .select("k", "n", "sum").as[(String, Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got == want)
    // bucket-count mismatch refuses before touching anything
    val e = intercept[IllegalArgumentException] {
      IncrementalAgg.update(spark, path,
        Seq(("a", 1.0)).toDF("k", "v"), Seq("k"), "v", buckets = Some(16))
    }
    assert(e.getMessage.contains("buckets"))
    // every fresh path is a log store, so bucketing needs no opt-in
    val fresh = freshStore()
    IncrementalAgg.update(spark, fresh,
      Seq(("a", 1.0)).toDF("k", "v"), Seq("k"), "v", buckets = Some(8))
    assert(CommitLog.isLog(fs, new org.apache.hadoop.fs.Path(fresh)))
  }

  test("log-store replay guard: a batch at or below the manifest " +
    "high-water mark is skipped store-level and stream-level") {
    val logPath = freshStore()
    assert(graft.streaming.StreamOps.applyAggBatchOnce(
      Seq(("a", 1.0)).toDF("k", "v"), logPath, Seq("k"), "v", 0L))
    assert(graft.streaming.StreamOps.applyAggBatchOnce(
      Seq(("b", 2.0)).toDF("k", "v"), logPath, Seq("k"), "v", 1L))
    // stream-level replay: returns false, store untouched
    assert(!graft.streaming.StreamOps.applyAggBatchOnce(
      Seq(("a", 99.0)).toDF("k", "v"), logPath, Seq("k"), "v", 1L))
    // store-level replay (direct update call): also skipped
    IncrementalAgg.update(spark, logPath,
      Seq(("a", 99.0)).toDF("k", "v"), Seq("k"), "v", batchId = Some(0L))
    val out = IncrementalAgg.readStore(spark, logPath)
      .select("k", "n", "sum").as[(String, Long, Double)].collect().toSet
    assert(out == Set(("a", 1L, 1.0), ("b", 1L, 2.0)), out.toString)
  }
}
