package graft.streaming

import graft.flow.SparkTestSession
import graft.operators.{Bm25, Bm25Index}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming BM25 index maintenance: micro-batches append into the
  * log-backed index exactly once, and the live index always scores like a
  * one-shot build over everything ingested so far. */
class Bm25StreamSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val batch1 = Seq((1L, "spark join spark"), (2L, "join window merge"))
  private val batch2 = Seq((3L, "spark window window window"), (4L, "merge merge hash"))
  private val queries = Seq("q1" -> "spark join", "q2" -> "merge window")

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("stream of doc batches maintains an index equal to the one-shot build") {
    val dir = tmp("graft_bm25s") + "/idx"
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.bm25IndexStream(
      mem.toDF().toDF("doc_id", "text"), dir,
      tmp("graft_bm25s_ck"), "doc_id", "text", buckets = 16)
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      val afterB1 = Bm25Index.load(spark, dir).topK(queries, 10)
        .as[(String, Long, Double)].collect().toSeq
      val directB1 = Bm25.topK(batch1.toDF("doc_id", "text"),
        "doc_id", "text", queries, 10).as[(String, Long, Double)].collect().toSeq
      assert(afterB1 == directB1, "bootstrap batch must equal one-shot over batch 1")

      mem.addData(batch2: _*); q.processAllAvailable()
      val afterB2 = Bm25Index.load(spark, dir).topK(queries, 10)
        .as[(String, Long, Double)].collect().toSeq
      val directB2 = Bm25.topK((batch1 ++ batch2).toDF("doc_id", "text"),
        "doc_id", "text", queries, 10).as[(String, Long, Double)].collect().toSeq
      assert(afterB2 == directB2, "appended stream must equal one-shot over all docs")
    } finally q.stop()
  }

  test("a replayed batch id is skipped without touching the store") {
    val dir = tmp("graft_bm25r") + "/idx"
    val store = new org.apache.hadoop.fs.Path(dir)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)

    assert(StreamOps.applyBm25BatchOnce(
      batch1.toDF("doc_id", "text"), dir, 0L, "doc_id", "text", 16))
    assert(StreamOps.applyBm25BatchOnce(
      batch2.toDF("doc_id", "text"), dir, 1L, "doc_id", "text", 16))
    val v = graft.operators.CommitLog.currentVersion(fs, store)

    // at-least-once replay of batch 1: skipped BEFORE the dup-id refusal
    assert(!StreamOps.applyBm25BatchOnce(
      batch2.toDF("doc_id", "text"), dir, 1L, "doc_id", "text", 16))
    assert(graft.operators.CommitLog.currentVersion(fs, store) == v,
      "replay must not publish a version")

    // and an empty later batch is a no-op, not an empty commit
    assert(!StreamOps.applyBm25BatchOnce(
      batch1.toDF("doc_id", "text").limit(0), dir, 2L, "doc_id", "text", 16))
    assert(graft.operators.CommitLog.currentVersion(fs, store) == v)
  }
}
