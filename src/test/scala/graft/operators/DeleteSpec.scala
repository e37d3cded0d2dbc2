package graft.operators

import java.nio.file.Files

import graft.flow.SparkTestSession
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Row-level copy-on-write DELETE on commit-log stores: file-grain
  * pruning (untouched files survive BY NAME), SQL NULL-predicate
  * semantics, no-op on no matches, and whole-file deletions. */
class DeleteSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def snapshotFileSet(store: String): Set[String] = {
    val p = new Path(store)
    CommitLog.snapshotFiles(fs, p, CommitLog.currentVersion(fs, p)).toSet
  }

  test("delete rewrites ONLY the files holding matches — other " +
    "partitions' files survive by name") {
    val store = tmp("graft_del_prune") + "/s"
    val init = (1L to 40L).map(k => (k, "v" + k, "p" + (k % 4))).toDF("k", "v", "p")
    Merge.into(spark, store, init, Seq("k"), prunePartitions = Some("p"))
    val before = snapshotFileSet(store)

    // all matches live in partition p=1 (k % 4 == 1)
    val out = Delete.where(spark, store, $"k" % 4 === 1 && $"k" <= 20)
    assert(out.count() == 35)
    assert(out.filter($"k" % 4 === 1 && $"k" <= 20).count() == 0)

    val after = snapshotFileSet(store)
    val untouchedBefore = before.filterNot(_.startsWith("p=p1/"))
    val untouchedAfter = after.filterNot(_.startsWith("p=p1/"))
    // file-grain COW: every non-matching partition's file is the SAME file
    assert(untouchedBefore == untouchedAfter)
    // and the matched partition's files were replaced
    assert(before.filter(_.startsWith("p=p1/")) !=
      after.filter(_.startsWith("p=p1/")))
  }

  test("no matches → no commit, version unchanged") {
    val store = tmp("graft_del_noop") + "/s"
    Merge.into(spark, store, Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      Seq("k"))
    val v = CommitLog.currentVersion(fs, new Path(store))
    val out = Delete.where(spark, store, $"k" > 100)
    assert(out.count() == 2)
    assert(CommitLog.currentVersion(fs, new Path(store)) == v)
  }

  test("NULL predicate keeps the row (SQL DELETE semantics)") {
    val store = tmp("graft_del_null") + "/s"
    val init = Seq((1L, Some("x")), (2L, None), (3L, Some("y")))
      .toDF("k", "v")
    Merge.into(spark, store, init, Seq("k"))
    // v = 'x' is NULL for k=2: that row must stay
    val out = Delete.where(spark, store, $"v" === "x")
    assert(out.select("k").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("a file whose rows ALL match is retired with no replacement") {
    val store = tmp("graft_del_all") + "/s"
    val init = (1L to 10L).map(k => (k, "p" + (k % 2))).toDF("k", "p")
    Merge.into(spark, store, init, Seq("k"), prunePartitions = Some("p"))
    val out = Delete.where(spark, store, $"p" === "p1")
    assert(out.select("k").as[Long].collect().toSet ==
      (1L to 10L).filter(_ % 2 == 0).toSet)
    assert(snapshotFileSet(store).forall(!_.startsWith("p=p1/")))
  }

  test("deleted rows reappear nowhere after a subsequent merge (the " +
    "rewrite is the table, not a mask)") {
    val store = tmp("graft_del_merge") + "/s"
    Merge.into(spark, store,
      (1L to 10L).map(k => (k, "v" + k)).toDF("k", "v"), Seq("k"))
    Delete.where(spark, store, $"k" % 2 === 0)
    Merge.into(spark, store, Seq((100L, "new")).toDF("k", "v"), Seq("k"))
    val keys = CommitLog.read(spark, new Path(store)).get
      .select("k").as[Long].collect().toSet
    assert(keys == (1L to 10L).filter(_ % 2 == 1).toSet + 100L)
  }

  test("expire on a time-clustered store: fully-expired files drop " +
    "without a rewrite, live files survive BY NAME, only the boundary " +
    "file is rewritten — one commit") {
    val store = tmp("graft_exp_clustered") + "/s"
    val rows = (1L to 400L).map(k => (k, k * 100L, "v" + k)).toDF("k", "us", "v")
    Merge.into(spark, store, rows, Seq("k"))
    Optimize.zorder(spark, store, Seq("us"), numFiles = 4)
    val p = new Path(store)
    val before = snapshotFileSet(store)
    val vBefore = CommitLog.currentVersion(fs, p)
    val conf = spark.sparkContext.hadoopConfiguration
    def footerRange(f: String): (Long, Long) = {
      val s = CommitLog.fileFooterInfo(conf, new Path(p, f), Some("us"))._2.get
      (s.min.toLong, s.max.toLong)
    }
    // cutoff STRICTLY INSIDE the second file's range (derived from its
    // own footer, so a different range split cannot land it on a file
    // boundary): at least one file fully below (drop path), one fully
    // above (untouched path), and the straddled file itself (rewrite)
    val secondFile = before.toSeq.sortBy(f => footerRange(f)._1).apply(1)
    val (b0, b1) = footerRange(secondFile)
    val cutoff = (b0 + b1) / 2 / 100 * 100 + 50 // between two k*100 rows
    val fullyLive = before.filter(f => footerRange(f)._1 >= cutoff)
    val fullyDead = before.filter(f => footerRange(f)._2 < cutoff)
    val boundary = before -- fullyLive -- fullyDead
    assert(fullyDead.nonEmpty && fullyLive.nonEmpty && boundary.nonEmpty,
      s"test setup must produce all three classes, got dead=$fullyDead " +
        s"live=$fullyLive boundary=$boundary")

    val out = Delete.expire(spark, store, "us", cutoff)
    val minLiveK = cutoff / 100 + 1 // us = k*100 >= cutoff
    assert(out.select("k").as[Long].collect().toSet ==
      (minLiveK to 400L).toSet)
    val after = snapshotFileSet(store)
    assert((before intersect after) == fullyLive,
      "exactly the fully-live files must survive by name")
    assert(fullyDead.forall(!after.contains(_)))
    assert(boundary.forall(!after.contains(_)))
    assert(CommitLog.currentVersion(fs, p) == vBefore + 1)
  }

  test("expire: no-op below the data leaves the version unchanged; " +
    "cutoff above everything empties the store via a drop-only commit") {
    val store = tmp("graft_exp_edges") + "/s"
    Merge.into(spark, store,
      (1L to 50L).map(k => (k, k * 10L)).toDF("k", "us"), Seq("k"))
    val p = new Path(store)
    val v0 = CommitLog.currentVersion(fs, p)
    assert(Delete.expire(spark, store, "us", cutoff = 5L).count() == 50)
    assert(CommitLog.currentVersion(fs, p) == v0, "no-op must not commit")
    assert(Delete.expire(spark, store, "us", cutoff = 1000L).count() == 0)
    assert(CommitLog.currentVersion(fs, p) == v0 + 1)
    assert(snapshotFileSet(store).isEmpty)
  }

  test("expire: null timestamps never expire (undecidable predicate " +
    "keeps the row)") {
    val store = tmp("graft_exp_null") + "/s"
    val rows = Seq[(Long, Option[Long])](
      (1L, Some(10L)), (2L, None), (3L, Some(500L)), (4L, None))
      .toDF("k", "us")
    Merge.into(spark, store, rows, Seq("k"))
    val out = Delete.expire(spark, store, "us", cutoff = 100L)
    assert(out.select("k").as[Long].collect().toSet == Set(2L, 3L, 4L))
  }
}
