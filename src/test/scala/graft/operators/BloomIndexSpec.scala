package graft.operators

import java.nio.file.Files

import graft.flow.SparkTestSession
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Per-file bloom index: the prune is real (measured file counts), the
  * answer equals the plain filter unconditionally, and staleness only
  * shrinks the prune — appends after the index are always scanned. */
class BloomIndexSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString
  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  // a store laid out by `part` whose lookup column `uid` is uncorrelated
  // with the layout — exactly the shape min/max stats cannot prune
  private def buildStore(store: String): Unit = {
    val rows = (1L to 400L).map { k =>
      (k, (k % 8) * 1000L + k / 8, "p" + (k % 4))
    }.toDF("k", "uid", "p")
    Merge.into(spark, store, rows, Seq("k"), prunePartitions = Some("p"))
  }

  test("lookup equals the plain filter and scans FEWER files than the " +
    "snapshot holds") {
    val store = tmp("graft_bf_idx") + "/s"
    buildStore(store)
    val v = BloomIndex.build(spark, store, "uid",
      expectedItemsPerFile = 1000L, numBits = 80000L)
    assert(v == CommitLog.currentVersion(fs, new Path(store)))
    val total = CommitLog.snapshotFiles(fs, new Path(store), v).size

    val wanted = Seq(3012L, 7049L) // uid values that exist
    val got = BloomIndex.lookup(spark, store, "uid", wanted)
      .select("k", "uid").as[(Long, Long)].collect().toSet
    val plain = CommitLog.read(spark, new Path(store)).get
      .filter($"uid".isin(wanted: _*))
      .select("k", "uid").as[(Long, Long)].collect().toSet
    assert(got == plain && got.nonEmpty)

    val scanned = BloomIndex.filesScanned(spark, store, "uid", wanted)
    assert(scanned < total,
      s"bloom index pruned nothing: $scanned of $total files scanned")

    // a value that exists nowhere: prune to (almost) nothing, empty result
    assert(BloomIndex.lookup(spark, store, "uid", Seq(999999L)).count() == 0)
    assert(BloomIndex.filesScanned(spark, store, "uid", Seq(999999L)) < total)
  }

  test("an Int probe of a LongType column is cast before hashing — " +
    "lookup still equals the plain filter, never a silent miss") {
    val store = tmp("graft_bf_type") + "/s"
    buildStore(store)
    BloomIndex.build(spark, store, "uid", 1000L, 80000L)
    // uid is LongType; probe with Scala Ints (the raw-literal hash of an
    // Int differs from the Long hash and used to prune the true files)
    val got = BloomIndex.lookup(spark, store, "uid", Seq(3012, 7049))
      .select("k").as[Long].collect().toSet
    val plain = CommitLog.read(spark, new Path(store)).get
      .filter($"uid".isin(3012L, 7049L)).select("k").as[Long].collect().toSet
    assert(got == plain && got.nonEmpty,
      "Int probes of a Long column must still find the rows")
    // an unhashable probe disables pruning entirely (scan everything);
    // the lookup itself then fails exactly as loudly as the plain ANSI
    // filter would — never a silent wrong answer
    assert(BloomIndex.filesScanned(spark, store, "uid", Seq("not-a-number")) ==
      CommitLog.snapshotFiles(fs, new Path(store),
        CommitLog.currentVersion(fs, new Path(store))).size)
    val thrown = intercept[Exception] {
      BloomIndex.lookup(spark, store, "uid", Seq("not-a-number")).count()
    }
    assert(thrown.getMessage.contains("CAST_INVALID_INPUT"),
      s"expected the plain ANSI cast failure, got: ${thrown.getMessage}")
  }

  test("vacuum drops bloom sidecars below the retain floor, keeps the " +
    "live one") {
    val store = tmp("graft_bf_vac") + "/s"
    buildStore(store) // v1
    BloomIndex.build(spark, store, "uid", 1000L, 80000L) // bloom-v1
    Merge.into(spark, store,
      Seq((2001L, 777777L, "p0")).toDF("k", "uid", "p"), Seq("k")) // v2
    Merge.into(spark, store,
      Seq((2002L, 777778L, "p0")).toDF("k", "uid", "p"), Seq("k")) // v3
    BloomIndex.build(spark, store, "uid", 1000L, 80000L) // bloom-v3
    val log = CommitLog.logDir(new Path(store))
    def sidecars = fs.listStatus(log).map(_.getPath.getName)
      .filter(_.startsWith("bloom-v")).toSet
    assert(sidecars == Set("bloom-v1.parquet", "bloom-v3.parquet"))
    CommitLog.vacuum(spark, new Path(store), retainVersions = 2,
      orphanGraceMs = 0L)
    assert(sidecars == Set("bloom-v3.parquet"),
      "sidecar below the floor must be vacuumed, live one kept")
    // the surviving index still prunes and still answers correctly
    assert(BloomIndex.lookup(spark, store, "uid", Seq(777778L)).count() == 1)
  }

  test("appends AFTER the index are scanned conservatively — a stale " +
    "sidecar can never hide a row") {
    val store = tmp("graft_bf_stale") + "/s"
    buildStore(store)
    BloomIndex.build(spark, store, "uid", 1000L, 80000L)
    // new rows, new uid values, never indexed
    Merge.into(spark, store,
      Seq((1001L, 555555L, "p0")).toDF("k", "uid", "p"), Seq("k"))
    val got = BloomIndex.lookup(spark, store, "uid", Seq(555555L))
      .select("k").as[Long].collect().toSeq
    assert(got == Seq(1001L))
  }

  test("no sidecar at all: lookup degrades to the plain filtered scan") {
    val store = tmp("graft_bf_none") + "/s"
    buildStore(store)
    val got = BloomIndex.lookup(spark, store, "uid", Seq(3012L))
    assert(got.count() ==
      CommitLog.read(spark, new Path(store)).get
        .filter($"uid" === 3012L).count())
  }

  test("driver-side probe hashes exactly like the distributed aggregate " +
    "(type-sensitive)") {
    import org.apache.spark.sql.graft.BloomBridge
    val df = (1L to 100L).toDF("x")
    val bytes = df.select(
      BloomBridge.bloomAggregate(df("x"), 100L, 8000L)).head.getAs[Array[Byte]](0)
    assert((1L to 100L).forall(v => BloomBridge.mightContainValue(bytes, v)))
    val misses = (10001L to 10100L).count(v =>
      BloomBridge.mightContainValue(bytes, v))
    assert(misses < 10, s"$misses of 100 absent values hit — not a working sketch")
  }
}
