package graft.operators

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.flow.SparkTestSession
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The store operators running on COMMIT-LOG-backed stores: the results
  * the retired staged-swap mode produced (pinned), plus
  * what the log newly permits — concurrent disjoint-partition writers,
  * loud conflicts for overlapping ones, snapshot-pinned readers during a
  * rewrite, and maintenance as just another optimistic writer. */
class LogStoreSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("Merge on a log store matches legacy mode exactly (first write, " +
    "update, insert, partition-scoped)") {
    val base = tmp("graft_ls_merge")
    val logged = s"$base/logged"
    val init = Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"))
      .toDF("k", "v", "p")
    val delta = Seq((2L, "B", "p1"), (4L, "d", "p3")).toDF("k", "v", "p")

    Merge.into(spark, logged, init, Seq("k"), prunePartitions = Some("p"))
    val b = Merge.into(spark, logged, delta, Seq("k"), prunePartitions = Some("p"))
      .select("k", "v", "p").as[(Long, String, String)].collect().toSet
    // the merged table the legacy staged-swap mode produced, pinned
    assert(b == Set((1L, "a", "p1"), (2L, "B", "p1"), (3L, "c", "p2"), (4L, "d", "p3")))
    assert(CommitLog.isLog(fs, new Path(logged)))
    // untouched partition p=2's file survived both merges (no rewrite)
    assert(CommitLog.currentVersion(fs, new Path(logged)) == 2)
  }

  test("concurrent Merges on DISJOINT partitions of one log store both " +
    "commit — the operation the lease had to forbid") {
    val store = tmp("graft_ls_conc") + "/s"
    val init = (1L to 8L).map(k => (k, "v" + k, "p" + (k % 4))).toDF("k", "v", "p")
    Merge.into(spark, store, init, Seq("k"), prunePartitions = Some("p"))
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    def mergeTask(p: String, k: Long) =
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          start.await()
          Merge.into(spark, store,
            Seq((k, "UPD" + p, p)).toDF("k", "v", "p"),
            Seq("k"), prunePartitions = Some("p"))
          ()
        }
      })
    val t1 = mergeTask("p1", 1L)
    val t2 = mergeTask("p2", 2L)
    start.countDown()
    t1.get(120, TimeUnit.SECONDS)
    t2.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    val out = CommitLog.read(spark, new Path(store)).get
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(out(1L) == "UPDp1" && out(2L) == "UPDp2")
    assert(out.size == 8)
    assert(CommitLog.currentVersion(fs, new Path(store)) == 3)
  }

  test("overlapping Merges produce exactly one winner and a loud " +
    "ConflictException; the store stays consistent") {
    val store = tmp("graft_ls_conf") + "/s"
    Merge.into(spark, store,
      Seq((1L, "base", "p1")).toDF("k", "v", "p"), Seq("k"),
      prunePartitions = Some("p"))
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    def mergeTask(v: String) =
      pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = {
          start.await()
          try {
            Merge.into(spark, store,
              Seq((1L, v, "p1")).toDF("k", "v", "p"),
              Seq("k"), prunePartitions = Some("p"))
            "ok"
          } catch { case _: CommitLog.ConflictException => "conflict" }
        }
      })
    val r1 = mergeTask("A"); val r2 = mergeTask("B")
    start.countDown()
    val outcomes = Seq(r1.get(120, TimeUnit.SECONDS), r2.get(120, TimeUnit.SECONDS)).sorted
    pool.shutdown()
    // both may serialize cleanly (ok,ok) — the race window is real but
    // narrow; what must NEVER happen is two silent winners with one lost
    // update and no error, or a corrupt store
    val rows = CommitLog.read(spark, new Path(store)).get
      .select("k", "v").as[(Long, String)].collect()
    assert(rows.length == 1)
    assert(Set("A", "B").contains(rows.head._2))
    if (outcomes == Seq("conflict", "ok"))
      succeed // one winner, one loud loser — the designed outcome
    else assert(outcomes == Seq("ok", "ok")) // serialized: both applied in order
  }

  test("Scd2 on a log store matches legacy mode; asOf reads and " +
    "maintenance work; a stale staging leftover is harmless") {
    val base = tmp("graft_ls_scd2")
    val b1 = Seq((1L, "x"), (2L, "y")).toDF("k", "name")
    val b2 = Seq((1L, "X"), (3L, "z")).toDF("k", "name")
    Scd2.apply(spark, s"$base/logged", b1, "k", "2024-01-01 00:00:00")
    val logged = Scd2.apply(spark, s"$base/logged", b2, "k", "2024-02-01 00:00:00")
      .select("k", "name", "is_current").as[(Long, String, Boolean)]
      .collect().toSet
    // the history the legacy staged-swap mode produced, pinned
    assert(logged == Set((1L, "x", false), (1L, "X", true), (2L, "y", true), (3L, "z", true)))
    // point-in-time read off the log store
    val asOf = Scd2.asOfStore(spark, s"$base/logged", "2024-01-15 00:00:00")
      .select("k", "name").as[(Long, String)].collect().toSet
    assert(asOf == Set((1L, "x"), (2L, "y")))
    // crashed-writer staging sibling: invisible, next apply unaffected
    val store = new Path(s"$base/logged")
    fs.mkdirs(new Path(Swap.Suffix.staging(store, "dead").toString + "/graft_slice=open"))
    Scd2.apply(spark, s"$base/logged",
      Seq((4L, "w")).toDF("k", "name"), "k", "2024-03-01 00:00:00")
    assert(Scd2.read(spark, s"$base/logged").count() == 5)
    // maintenance: appends fragmented the open slice across versions;
    // compactLogStore folds LIVE files only and commits like any writer
    val stats = Scd2.maintain(spark, s"$base/logged", maxFilesPerDir = 0)
    assert(Scd2.read(spark, s"$base/logged").count() == 5)
    // open slice was eligible (every apply rewrites it); if compacted its
    // file count must not exceed the target
    stats.get("graft_slice=open").foreach(s => assert(s.filesAfter <= s.filesBefore))
  }

  test("IncrementalAgg on a log store: three folds equal one direct " +
    "aggregation, and the batch high-water mark rides the manifest") {
    val store = tmp("graft_ls_agg") + "/agg"
    val rows = (1L to 100L).map(k => (k % 3, k.toDouble)).toDF("g", "x")
    (0 until 3).foreach { i =>
      IncrementalAgg.update(spark, store,
        rows.filter($"x" % 3 === i), Seq("g"), "x",
        batchId = Some(i.toLong))
    }
    val got = IncrementalAgg.readStore(spark, store)
      .select("g", "n", "sum").as[(Long, Long, Double)].collect().toSet
    val want = rows.groupBy("g")
      .agg(org.apache.spark.sql.functions.count("x").as("n"),
        org.apache.spark.sql.functions.sum("x").as("sum"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want)
    assert(CommitLog.tipMeta(fs, new Path(store)) == Map("batchId" -> "2"))
  }

  test("appends + compactLogStore: fragmented partition folds to fewer " +
    "files with identical rows; conflicts with ingest are swallowed") {
    val store = new Path(tmp("graft_ls_cmp") + "/s")
    (1 to 4).foreach { i =>
      val staging = Swap.Suffix.staging(store, Swap.newTag())
      Seq((i.toLong, s"r$i")).toDF("k", "v")
        .withColumn("p", org.apache.spark.sql.functions.lit("hot"))
        .coalesce(1).write.partitionBy("p").parquet(staging.toString)
      CommitLog.commitStaged(spark, store, staging,
        CommitLog.currentVersion(fs, store), Nil, wholeStore = false)
    }
    val before = CommitLog.read(spark, store).get
      .select("k", "v").as[(Long, String)].collect().toSet
    val liveBefore = CommitLog.snapshotFiles(fs, store,
      CommitLog.currentVersion(fs, store))
    assert(liveBefore.size == 4)
    val stats = Compact.compactLogStore(spark, store.toString, "p",
      maxFilesPerDir = 2)
    assert(stats.contains("p=hot"))
    val after = CommitLog.read(spark, store).get
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(after == before)
    val liveAfter = CommitLog.snapshotFiles(fs, store,
      CommitLog.currentVersion(fs, store))
    assert(liveAfter.size < liveBefore.size)
    // old fragments still on disk for pinned readers until vacuum
    CommitLog.vacuum(spark, store, retainVersions = 1, orphanGraceMs = 0L)
    val remaining = fs.listStatus(new Path(store, "p=hot"))
      .count(s => !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_"))
    assert(remaining == liveAfter.size)
  }
}
