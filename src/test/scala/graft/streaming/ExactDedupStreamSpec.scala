package graft.streaming

import graft.flow.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Persistent streaming EXACT dedup (StreamOps.exactDedupStream): the
  * restart-survivable form of dropDuplicates — admissions live in a
  * fingerprint store on disk, not in checkpoint state, so they survive a
  * checkpoint reset... as long as the store and checkpoint move
  * together, which the replay guard enforces. Same protocol matrix as
  * the near-dup store: cross-batch drop, min-id within batch, replay
  * idempotence, fold parity, folded-replay guard. */
class ExactDedupStreamSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  // the store's committed snapshot (replaced files stay on disk until
  // vacuum, so a directory read would see them)
  private def logRead(store: String) =
    graft.operators.CommitLog.read(spark, new org.apache.hadoop.fs.Path(store)).get

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_xdedup").toString

  test("cross-batch exact dups drop, within-batch keeps min id, replay " +
    "is idempotent") {
    import spark.implicits._
    val store = tmp() + "/fps"
    // batch 0: 2 duplicates 1's text (min id 1 survives); 3 distinct
    val b0 = Seq(Doc(1, "alpha"), Doc(2, "alpha"), Doc(3, "beta")).toDF()
    val a0 = StreamOps.applyExactDedupBatch(b0, store, 0L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a0 == Seq(1L, 3L))
    // batch 1: 4 duplicates admitted history; 5 is new
    val b1 = Seq(Doc(4, "beta"), Doc(5, "gamma")).toDF()
    val a1 = StreamOps.applyExactDedupBatch(b1, store, 1L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a1 == Seq(5L))
    // 6 duplicates a doc that was REJECTED (4, never admitted) → its
    // text is already in the store via 3, still drops; 7 fresh
    val b2 = Seq(Doc(6, "beta"), Doc(7, "delta")).toDF()
    val a2 = StreamOps.applyExactDedupBatch(b2, store, 2L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a2 == Seq(7L))
    // replaying the LATEST batch recomputes the same admissions and
    // leaves the same store state (own-partition overwrite)
    val a2r = StreamOps.applyExactDedupBatch(b2, store, 2L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a2r == a2)
    val stored = logRead(store)
      .select("graft_id").as[Long].collect().sorted.toSeq
    assert(stored == Seq(1L, 3L, 5L, 7L))
  }

  test("maintenance folds older batches into batch=-1; dedup against " +
    "folded history still works; a folded batch id cannot replay") {
    import spark.implicits._
    val store = tmp() + "/fps"
    (0 until 5).foreach { i =>
      StreamOps.applyExactDedupBatch(
        Seq(Doc(10L * i, s"text-$i")).toDF(), store, i.toLong)
    }
    StreamOps.maintainExactDedupStore(spark, store)
    val root = new org.apache.hadoop.fs.Path(store)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // live batch partitions: the committed snapshot's, not the listing's
    val parts = graft.operators.CommitLog
      .snapshotFiles(fs, root, graft.operators.CommitLog.currentVersion(fs, root))
      .map(_.takeWhile(_ != '/')).distinct.sorted
    assert(parts == Seq("batch=-1", "batch=4"), parts)
    // fold preserved every fingerprint: a dup of folded batch-0 content
    // still drops, fresh content admits
    val a = StreamOps.applyExactDedupBatch(
      Seq(Doc(100, "text-0"), Doc(101, "text-new")).toDF(), store, 5L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == Seq(101L))
    // a replay of folded batch 2 must fail loudly, store untouched
    val before = logRead(store).count()
    intercept[IllegalArgumentException] {
      StreamOps.applyExactDedupBatch(
        Seq(Doc(999, "whatever")).toDF(), store, 2L)
    }
    assert(logRead(store).count() == before)
  }

  test("end-to-end MemoryStream run survives a stream restart on the " +
    "same checkpoint: admissions persist in the store, not the state") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val base = tmp()
    val store = base + "/fps"
    val checkpoint = base + "/ckpt"
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()

    val in = MemoryStream[Doc]
    in.addData(Doc(1, "one"), Doc(2, "two"))
    val q1 = StreamOps.exactDedupStream(in.toDF(), store, checkpoint) {
      (df, _) => admitted ++= df.select("doc_id").as[Long].collect()
    }
    q1.processAllAvailable()
    q1.stop()
    assert(admitted.sorted.toSeq == Seq(1L, 2L))

    // new QUERY instance, same source/checkpoint/store: the committed
    // offsets skip batch 0 and the fingerprint history comes from the
    // STORE, not stream state — dup of "one" drops, "three" admits
    in.addData(Doc(3, "one"), Doc(4, "three"))
    val q2 = StreamOps.exactDedupStream(in.toDF(), store, checkpoint) {
      (df, _) => admitted ++= df.select("doc_id").as[Long].collect()
    }
    q2.processAllAvailable()
    q2.stop()
    assert(admitted.sorted.toSeq == Seq(1L, 2L, 4L))
  }

  test("history lookup pushes the fingerprint range into the parquet " +
    "scan after a fold sorts the store") {
    import spark.implicits._
    val store = tmp() + "/fps"
    (0 until 3).foreach { i =>
      StreamOps.applyExactDedupBatch(
        (0 until 50).map(j => Doc(100L * i + j, s"doc-$i-$j")).toDF(),
        store, i.toLong)
    }
    StreamOps.maintainExactDedupStore(spark, store)
    // capture the pushed filters of the history read by building the
    // same pruned plan applyExactDedupBatch builds
    val probe = Seq(Doc(9999, "doc-0-7")).toDF()
    val fp = probe.select(org.apache.spark.sql.functions.md5(
      org.apache.spark.sql.functions.col("text")).as("f"))
      .as[String].head()
    val planned = logRead(store)
      .where(org.apache.spark.sql.functions.col("graft_fp") >= fp &&
        org.apache.spark.sql.functions.col("graft_fp") <= fp)
    val scan = planned.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("graft_fp"), scan)
    // and the actual batch still computes correctly on the folded store
    val a = StreamOps.applyExactDedupBatch(
      Seq(Doc(9999, "doc-0-7"), Doc(10000, "fresh")).toDF(), store, 3L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == Seq(10000L))
  }
}
