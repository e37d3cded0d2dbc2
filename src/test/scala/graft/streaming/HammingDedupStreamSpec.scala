package graft.streaming

import graft.flow.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

case class FpRow(doc_id: Long, fingerprint: java.lang.Long)

/** Streaming HAMMING near-dup admission against a persistent fingerprint
  * store (StreamOps.hammingNearDupStream — the media/simhash twin of
  * embeddingNearDupStream): cross-batch verify is EXACT bit_count(xor)
  * against bucket-mate history hashes, the store is SUPPORT-sized by
  * construction (only distinct admitted hash values are ever stored —
  * an identical later copy is hamming-0 and drops), and within-batch
  * dedup is the distinct-first collapse. 3-batch MemoryStream union ≡
  * the batch operator's survivor set, replays are idempotent, folds
  * preserve history, config drift (chunks) is rejected loudly. */
class HammingDedupStreamSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  // the store's committed snapshot (replaced files stay on disk until
  // vacuum, so a directory read would see them)
  private def logRead(store: String) =
    graft.operators.CommitLog.read(spark, new org.apache.hadoop.fs.Path(store)).get

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_hdup").toString

  /** deterministic pseudo-random 64-bit fingerprint per seed (pairwise
    * hamming between different seeds ~32 — far above maxHamming=3) */
  private def base(seed: Int): Long = new scala.util.Random(seed).nextLong()
  /** near-dup of a base: flip the given bits (hamming = bits.size) */
  private def near(seed: Int, bits: Int*): Long =
    bits.foldLeft(base(seed))((h, b) => h ^ (1L << b))

  test("3-batch MemoryStream union equals the batch operator's survivor " +
    "set (exact cross-batch hamming decomposes the admission)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = tmp()
    val store = dir + "/fps"
    val checkpoint = dir + "/ckpt"

    // planted: (1,2) identical + 3 within hamming 2 of them; (4,5) within
    // hamming 3; 6..8 mutually unrelated; ids stream in ascending order so
    // pairwise min-id survival matches the batch convention
    val rows = Seq(
      FpRow(1, base(11)), FpRow(2, base(11)), FpRow(3, near(11, 0, 5)),
      FpRow(4, base(22)), FpRow(5, near(22, 1, 7, 13)),
      FpRow(6, base(33)), FpRow(7, base(44)), FpRow(8, base(55)))

    val in = MemoryStream[FpRow]
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    in.addData(rows.take(3): _*)
    val q = StreamOps.hammingNearDupStream(
      in.toDF(), store, checkpoint, maxHamming = 3) { (df, _) =>
      admitted ++= df.select("doc_id").as[Long].collect()
    }
    q.processAllAvailable()
    in.addData(rows.slice(3, 6): _*)
    q.processAllAvailable()
    in.addData(rows.drop(6): _*)
    q.processAllAvailable()
    q.stop()

    // batch-operator reference: the pair join over the SAME corpus;
    // survivors drop the larger id of every qualifying pair
    val corpus = rows.toDF()
    val losers = graft.operators.Dedup.hammingNearDupPairs(
      corpus, "doc_id", "fingerprint", maxHamming = 3)
      .select("id_b").as[Long].collect().toSet
    val batchSurvivors = rows.map(_.doc_id).filterNot(losers).sorted
    assert(admitted.sorted.toSeq == batchSurvivors,
      s"stream ${admitted.sorted} vs batch $batchSurvivors")
    assert(admitted.sorted.toSeq == Seq(1L, 4L, 6L, 7L, 8L))

    // the store holds exactly the admitted SUPPORT, exploded to exact
    // band rows: 5 distinct hashes x autoChunks(3)=2 bands
    val stored = logRead(store)
    assert(stored.columns.toSet ==
      Set("graft_id", "graft_sh", "graft_bucket", "batch"))
    assert(stored.select("graft_sh").distinct().count() == 5)
    assert(stored.count() == 10)
    assert(stored.select("graft_id").distinct().as[Long].collect().sorted.toSeq ==
      batchSurvivors)
  }

  test("cross-batch dups of ADMITTED history drop; within-batch larger " +
    "id drops; replay of the latest batch is idempotent") {
    import spark.implicits._
    val store = tmp() + "/fps"
    val b0 = Seq(FpRow(1, base(7)), FpRow(2, near(7, 3)), FpRow(3, base(9))).toDF()
    val a0 = StreamOps.applyHammingNearDupBatch(b0, store, 0L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a0 == Seq(1L, 3L), s"admitted $a0")

    val b1 = Seq(FpRow(4, near(9, 2, 40)), FpRow(5, base(10))).toDF()
    val a1 = StreamOps.applyHammingNearDupBatch(b1, store, 1L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a1 == Seq(5L), s"admitted $a1")

    val a1r = StreamOps.applyHammingNearDupBatch(b1, store, 1L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a1r == a1)
    val stored = logRead(store)
      .select("graft_id").distinct().as[Long].collect().sorted.toSeq
    assert(stored == Seq(1L, 3L, 5L), s"store $stored")
  }

  test("the store is SUPPORT-sized: heavy identical classes admit one " +
    "row and occupy one hash; a saturated second wave adds nothing") {
    import spark.implicits._
    val store = tmp() + "/fps"
    // 500 rows over only 3 distinct fingerprint values
    val wave0 = (1L to 500L).map(i => FpRow(i, base(1 + (i % 3).toInt))).toDF()
    val a0 = StreamOps.applyHammingNearDupBatch(wave0, store, 0L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a0 == Seq(1L, 2L, 3L), s"admitted $a0") // min id per class
    assert(logRead(store).count() == 3 * 2) // 3 hashes x 2 bands
    // 500 more rows over the SAME manifold: nothing admits, store flat
    val wave1 = (501L to 1000L).map(i => FpRow(i, base(1 + (i % 3).toInt))).toDF()
    val a1 = StreamOps.applyHammingNearDupBatch(wave1, store, 1L)
    assert(a1.isEmpty)
    assert(logRead(store).count() == 3 * 2)
    // null fingerprints never pair and are admitted, but never stored
    val a2 = StreamOps.applyHammingNearDupBatch(
      Seq(FpRow(2000, null), FpRow(2001, null)).toDF(), store, 2L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a2 == Seq(2000L, 2001L))
    assert(logRead(store).count() == 3 * 2)
  }

  test("maintenance folds older batches into batch=-1 sorted by bucket; " +
    "dedup against folded history still works; folded ids cannot replay") {
    import spark.implicits._
    val store = tmp() + "/fps"
    (0 until 4).foreach { i =>
      StreamOps.applyHammingNearDupBatch(
        Seq(FpRow(10L * i, base(1000 + i))).toDF(), store, i.toLong)
    }
    StreamOps.maintainHammingNearDupStore(spark, store)
    val root = new org.apache.hadoop.fs.Path(store)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // live batch partitions: the committed snapshot's, not the listing's
    val parts = graft.operators.CommitLog
      .snapshotFiles(fs, root, graft.operators.CommitLog.currentVersion(fs, root))
      .map(_.takeWhile(_ != '/')).distinct.sorted
    assert(parts == Seq("batch=-1", "batch=3"), parts)
    // a near-dup of folded batch-0 content still drops; fresh admits
    val a = StreamOps.applyHammingNearDupBatch(
      Seq(FpRow(100, near(1000, 6)), FpRow(101, base(7777))).toDF(), store, 4L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == Seq(101L))
    // a replay of folded batch 1 must fail loudly, store untouched
    val before = logRead(store).count()
    intercept[IllegalArgumentException] {
      StreamOps.applyHammingNearDupBatch(
        Seq(FpRow(999, base(9))).toDF(), store, 1L)
    }
    assert(logRead(store).count() == before)
  }

  test("config drift is rejected loudly: a different chunk layout; " +
    "unsound layouts refused; an empty batch admits nothing, pins nothing") {
    import spark.implicits._
    val store = tmp() + "/fps"
    // an EMPTY first batch must not create the meta sidecar
    val empty = StreamOps.applyHammingNearDupBatch(
      Seq.empty[FpRow].toDF(), store, 0L)
    assert(empty.count() == 0)
    StreamOps.applyHammingNearDupBatch(
      Seq(FpRow(1, base(5))).toDF(), store, 1L) // maxHamming=3 -> chunks=2
    val eC = intercept[IllegalArgumentException] {
      StreamOps.applyHammingNearDupBatch(
        Seq(FpRow(2, base(6))).toDF(), store, 2L, chunks = 4)
    }
    assert(eC.getMessage.contains("chunks=2"), eC.getMessage)
    // chunks=1 would make the packed key the raw hash — refused
    intercept[IllegalArgumentException] {
      StreamOps.applyHammingNearDupBatch(
        Seq(FpRow(3, base(6))).toDF(), tmp() + "/x", 0L, chunks = 1)
    }
    // per-chunk radius > 1 is unsound — refused
    intercept[IllegalArgumentException] {
      StreamOps.applyHammingNearDupBatch(
        Seq(FpRow(3, base(6))).toDF(), tmp() + "/y", 0L,
        maxHamming = 9, chunks = 4)
    }
  }

  test("commit-log mode: admissions match the legacy store batch for " +
    "batch, replays retire-and-replace, folds keep history and the " +
    "replay high-water mark survives them") {
    import spark.implicits._
    val logStore = tmp() + "/fps"
    val batches = Seq(
      Seq(FpRow(1, base(11)), FpRow(2, near(11, 4)), FpRow(3, base(22))),
      Seq(FpRow(4, near(22, 9, 17)), FpRow(5, base(33))),
      Seq(FpRow(6, near(33, 50)), FpRow(7, base(44))))
    // per-batch admissions of the retired staged-swap store on these
    // batches, pinned
    val legacyAdmitted = Seq(Seq(1L, 3L), Seq(5L), Seq(7L))
    val got = batches.zipWithIndex.map { case (b, i) =>
      StreamOps.applyHammingNearDupBatch(
        b.toDF(), logStore, i.toLong).select("doc_id").as[Long].collect().sorted.toSeq
    }
    assert(got == legacyAdmitted, s"log $got vs legacy $legacyAdmitted")
    // replay of the latest batch is idempotent
    val replay = StreamOps.applyHammingNearDupBatch(
      batches(2).toDF(), logStore, 2L).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(replay == got(2))
    // fold, then dedup against folded history and verify the high-water
    // mark survived (an old batch id must still be refused)
    StreamOps.maintainHammingNearDupStore(spark, logStore)
    val post = StreamOps.applyHammingNearDupBatch(
      Seq(FpRow(8, near(11, 2)), FpRow(9, base(55))).toDF(), logStore, 3L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(post == Seq(9L))
    intercept[IllegalArgumentException] {
      StreamOps.applyHammingNearDupBatch(
        Seq(FpRow(99, base(7))).toDF(), logStore, 1L)
    }
  }
  test("image wrapper: a streamed crawl admits each scene once and drops " +
    "jpeg re-encodes of ADMITTED scenes across batches") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    implicit val sc = spark.sqlContext
    def mosaic(group: Long, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        96, 96, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 96; x <- 0 until 96) {
        val h = group * 1315423911L + (x / 12) * 2654435761L + (y / 12) * 97L
        val v = ((h ^ (h >>> 17)) % 256).toInt.abs
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, baos)
      baos.toByteArray
    }
    def row(id: Long, group: Long, fmt: String) = Multimodal.MediaRow(
      id, "image", mosaic(group, fmt), s"image/$fmt",
      Some(96), Some(96), None, None)
    val dir = tmp()
    val in = MemoryStream[Multimodal.MediaRow]
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    in.addData(row(10, 1, "png"), row(20, 2, "png"))
    val q = Multimodal.imageNearDupStream(
      in.toDS(), dir + "/imgs", dir + "/ckpt") { (df, _) =>
      admitted ++= df.select("media_id").as[Long].collect()
    }
    q.processAllAvailable()
    // batch 1: a jpeg re-encode of admitted scene 1 drops; scene 3 admits
    in.addData(row(30, 1, "jpg"), row(40, 3, "png"))
    q.processAllAvailable()
    q.stop()
    assert(admitted.sorted.toSeq == Seq(10L, 20L, 40L), admitted.sorted)
  }

  test("simhash wrapper: a streamed text corpus admits exactly the batch " +
    "operator's survivor set at the q_simhash_pairs contract") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = tmp()
    // identical + lightly-edited near-dup docs plus unrelated ones; the
    // reference is the BATCH pair operator over the same corpus, so the
    // assertion holds whatever hamming the edits land on
    def doc(i: Long, text: String) = (i, text)
    val rows = Seq(
      doc(1, "the quick brown fox jumps over the lazy dog again and again"),
      doc(2, "the quick brown fox jumps over the lazy dog again and again"),
      doc(3, "the quick brown fox leaps over the lazy dog again and again"),
      doc(4, "completely unrelated text about spark shuffle partitions and joins"),
      doc(5, "a third topic entirely metrics dashboards and alerting pipelines"),
      doc(6, "completely unrelated text about spark shuffle partitions and joins"))
    val in = MemoryStream[(Long, String)]
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    in.addData(rows.take(2): _*)
    val q = StreamOps.simhashNearDupStream(
      in.toDF().toDF("doc_id", "text"), dir + "/fps", dir + "/ckpt") { (df, _) =>
      admitted ++= df.select("doc_id").as[Long].collect()
    }
    q.processAllAvailable()
    in.addData(rows.slice(2, 4): _*)
    q.processAllAvailable()
    in.addData(rows.drop(4): _*)
    q.processAllAvailable()
    q.stop()
    val losers = graft.operators.Dedup.simhashNearDup(
      rows.toDF("doc_id", "text"), "doc_id", "text", maxHamming = 7)
      .select("id_b").as[Long].collect().toSet
    val batchSurvivors = rows.map(_._1).filterNot(losers).sorted
    assert(admitted.sorted.toSeq == batchSurvivors,
      s"stream ${admitted.sorted} vs batch $batchSurvivors")
    assert(!admitted.contains(2L) && !admitted.contains(6L)) // exact copies
  }

  test("history lookup pushes the bucket range into the parquet scan " +
    "after a fold sorts the store by bucket") {
    import spark.implicits._
    val store = tmp() + "/fps"
    (0 until 3).foreach { i =>
      StreamOps.applyHammingNearDupBatch(
        (0 until 40).map(j => FpRow(100L * i + j, base(10000 + 100 * i + j))).toDF(),
        store, i.toLong)
    }
    StreamOps.maintainHammingNearDupStore(spark, store)
    val planned = logRead(store)
      .where(org.apache.spark.sql.functions.col("graft_bucket") >= 3L &&
        org.apache.spark.sql.functions.col("graft_bucket") <= 9L)
    val scan = planned.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("graft_bucket"), scan)
    // the folded store still admits correctly
    val a = StreamOps.applyHammingNearDupBatch(
      Seq(FpRow(9999, near(10000, 1, 33)), FpRow(10000, base(31337))).toDF(),
      store, 3L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == Seq(10000L))
  }
}
