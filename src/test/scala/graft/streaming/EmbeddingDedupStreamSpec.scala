package graft.streaming

import graft.flow.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

case class Emb(doc_id: Long, embedding: Array[Float])

/** Streaming EMBEDDING near-dup admission against a persistent vector
  * store (StreamOps.embeddingNearDupStream — r17 verdict item 5): the
  * semantic twin of nearDupStream. Cross-batch verify is EXACT cosine
  * against bucket-mate history vectors (the store holds the embeddings,
  * fixed-width per doc), so streamed admission decomposes: 3-batch
  * MemoryStream union ≡ the batch operator's survivor set, replays are
  * idempotent, folds preserve history, and config drift (planes/dim) is
  * rejected loudly. */
class EmbeddingDedupStreamSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  // the store's committed snapshot (replaced files stay on disk until
  // vacuum, so a directory read would see them)
  private def logRead(store: String) =
    graft.operators.CommitLog.read(spark, new org.apache.hadoop.fs.Path(store)).get

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_edup").toString

  private val dim = 8
  /** deterministic unit vector from a direction seed */
  private def unit(seed: Int): Array[Float] = {
    val rnd = new scala.util.Random(seed)
    val v = Array.fill(dim)(rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }
  /** near-dup of a direction: tiny deterministic perturbation, renormalized
    * (cosine ≥ 0.999 — far above the 0.95 threshold on any engine) */
  private def near(seed: Int): Array[Float] = {
    val v = unit(seed).map(_.toDouble)
    v(0) += 0.02; v(3) -= 0.02
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  test("3-batch MemoryStream union equals the batch operator's survivor " +
    "set (exact cross-batch cosine decomposes the admission)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val base = tmp()
    val store = base + "/vecs"
    val checkpoint = base + "/ckpt"

    // planted groups: (1,2) and (3,4) near-dups, 5..8 mutually unrelated;
    // ids stream in ascending order so pairwise min-id survival matches
    // the batch convention regardless of the batch boundaries
    val rows = Seq(
      Emb(1, unit(101)), Emb(2, near(101)),
      Emb(3, unit(202)), Emb(4, near(202)),
      Emb(5, unit(303)), Emb(6, unit(404)),
      Emb(7, unit(505)), Emb(8, unit(606)))

    val in = MemoryStream[Emb]
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    in.addData(rows.take(3): _*)
    val q = StreamOps.embeddingNearDupStream(
      in.toDF(), store, checkpoint, planes = 8) { (df, _) =>
      admitted ++= df.select("doc_id").as[Long].collect()
    }
    q.processAllAvailable()
    in.addData(rows.slice(3, 6): _*)
    q.processAllAvailable()
    in.addData(rows.drop(6): _*)
    q.processAllAvailable()
    q.stop()

    // batch-operator reference: pairs over the SAME corpus at the same
    // planes; survivors drop the larger id of every qualifying pair
    val corpus = rows.toDF()
    val pairs = graft.operators.Dedup.embeddingNearDupReplayable(
      corpus, "doc_id", "embedding", threshold = 0.95, planes = 8)
    val losers = pairs.select("id_b").as[Long].collect().toSet
    val batchSurvivors = rows.map(_.doc_id).filterNot(losers).sorted
    assert(admitted.sorted.toSeq == batchSurvivors,
      s"stream ${admitted.sorted} vs batch $batchSurvivors")
    assert(admitted.sorted.toSeq == Seq(1L, 3L, 5L, 6L, 7L, 8L))

    // the store holds exactly the admitted vectors with their buckets
    val stored = logRead(store)
    assert(stored.select("graft_id").as[Long].collect().sorted.toSeq ==
      batchSurvivors)
    assert(stored.columns.toSet ==
      Set("graft_id", "graft_vec", "graft_bucket", "batch"))
  }

  test("cross-batch dups of ADMITTED history drop; within-batch larger " +
    "id drops; replay of the latest batch is idempotent") {
    import spark.implicits._
    val store = tmp() + "/vecs"
    val b0 = Seq(Emb(1, unit(11)), Emb(2, near(11)), Emb(3, unit(22))).toDF()
    val a0 = StreamOps.applyEmbeddingNearDupBatch(b0, store, 0L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a0 == Seq(1L, 3L), s"admitted $a0")

    val b1 = Seq(Emb(4, near(22)), Emb(5, unit(33))).toDF()
    val a1 = StreamOps.applyEmbeddingNearDupBatch(b1, store, 1L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a1 == Seq(5L), s"admitted $a1")

    val a1r = StreamOps.applyEmbeddingNearDupBatch(b1, store, 1L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a1r == a1)
    val stored = logRead(store)
      .select("graft_id").as[Long].collect().sorted.toSeq
    assert(stored == Seq(1L, 3L, 5L), s"store $stored")
  }

  test("maintenance folds older batches into batch=-1 sorted by bucket; " +
    "dedup against folded history still works; folded ids cannot replay") {
    import spark.implicits._
    val store = tmp() + "/vecs"
    (0 until 4).foreach { i =>
      StreamOps.applyEmbeddingNearDupBatch(
        Seq(Emb(10L * i, unit(1000 + i))).toDF(), store, i.toLong)
    }
    StreamOps.maintainEmbeddingNearDupStore(spark, store)
    val root = new org.apache.hadoop.fs.Path(store)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // live batch partitions: the committed snapshot's, not the listing's
    val parts = graft.operators.CommitLog
      .snapshotFiles(fs, root, graft.operators.CommitLog.currentVersion(fs, root))
      .map(_.takeWhile(_ != '/')).distinct.sorted
    assert(parts == Seq("batch=-1", "batch=3"), parts)
    // a near-dup of folded batch-0 content still drops; fresh admits
    val a = StreamOps.applyEmbeddingNearDupBatch(
      Seq(Emb(100, near(1000)), Emb(101, unit(7777))).toDF(), store, 4L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == Seq(101L))
    // a replay of folded batch 1 must fail loudly, store untouched
    val before = logRead(store).count()
    intercept[IllegalArgumentException] {
      StreamOps.applyEmbeddingNearDupBatch(
        Seq(Emb(999, unit(9))).toDF(), store, 1L)
    }
    assert(logRead(store).count() == before)
  }

  test("config drift is rejected loudly: different planes, different dim; " +
    "an empty batch admits nothing and pins nothing") {
    import spark.implicits._
    val store = tmp() + "/vecs"
    // an EMPTY first batch must not create the meta sidecar
    val empty = StreamOps.applyEmbeddingNearDupBatch(
      Seq.empty[Emb].toDF(), store, 0L)
    assert(empty.count() == 0)
    StreamOps.applyEmbeddingNearDupBatch(
      Seq(Emb(1, unit(5))).toDF(), store, 1L, planes = 8)
    val eP = intercept[IllegalArgumentException] {
      StreamOps.applyEmbeddingNearDupBatch(
        Seq(Emb(2, unit(6))).toDF(), store, 2L, planes = 4)
    }
    assert(eP.getMessage.contains("planes=8"), eP.getMessage)
    val eD = intercept[IllegalArgumentException] {
      StreamOps.applyEmbeddingNearDupBatch(
        Seq((3L, Array.fill(4)(0.5f))).toDF("doc_id", "embedding"),
        store, 2L, planes = 8)
    }
    assert(eD.getMessage.contains("dim=8"), eD.getMessage)
  }

  test("commit-log mode: admissions match the legacy store batch for " +
    "batch, replays retire-and-replace, folds keep history and the " +
    "replay high-water mark survives them") {
    import spark.implicits._
    val logStore = tmp() + "/vecs"
    val batches = Seq(
      Seq(Emb(1, unit(11)), Emb(2, near(11)), Emb(3, unit(22))),
      Seq(Emb(4, near(22)), Emb(5, unit(33))),
      Seq(Emb(6, near(33)), Emb(7, unit(44))))
    // per-batch admissions of the retired staged-swap store on these
    // batches, pinned
    val legacyAdmitted = Seq(Seq(1L, 3L), Seq(5L), Seq(7L))
    val got = batches.zipWithIndex.map { case (b, i) =>
      StreamOps.applyEmbeddingNearDupBatch(
        b.toDF(), logStore, i.toLong).select("doc_id").as[Long].collect().sorted.toSeq
    }
    assert(got == legacyAdmitted, s"log $got vs legacy $legacyAdmitted")
    // replay of the latest batch is idempotent
    val replay = StreamOps.applyEmbeddingNearDupBatch(
      batches(2).toDF(), logStore, 2L).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(replay == got(2))
    // fold, then dedup against folded history and verify the high-water
    // mark survived (an old batch id must still be refused)
    StreamOps.maintainEmbeddingNearDupStore(spark, logStore)
    val post = StreamOps.applyEmbeddingNearDupBatch(
      Seq(Emb(8, near(11)), Emb(9, unit(55))).toDF(), logStore, 3L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(post == Seq(9L))
    intercept[IllegalArgumentException] {
      StreamOps.applyEmbeddingNearDupBatch(
        Seq(Emb(99, unit(7))).toDF(), logStore, 1L)
    }
  }
  test("history lookup pushes the bucket range into the parquet scan " +
    "after a fold sorts the store by bucket") {
    import spark.implicits._
    val store = tmp() + "/vecs"
    (0 until 3).foreach { i =>
      StreamOps.applyEmbeddingNearDupBatch(
        (0 until 40).map(j => Emb(100L * i + j, unit(10000 + 100 * i + j))).toDF(),
        store, i.toLong)
    }
    StreamOps.maintainEmbeddingNearDupStore(spark, store)
    val planned = logRead(store)
      .where(org.apache.spark.sql.functions.col("graft_bucket") >= 3L &&
        org.apache.spark.sql.functions.col("graft_bucket") <= 9L)
    val scan = planned.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("graft_bucket"), scan)
    // the folded store still admits correctly
    val a = StreamOps.applyEmbeddingNearDupBatch(
      Seq(Emb(9999, near(10000)), Emb(10000, unit(31337))).toDF(), store, 3L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == Seq(10000L))
  }
}
