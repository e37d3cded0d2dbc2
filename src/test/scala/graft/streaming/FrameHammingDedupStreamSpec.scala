package graft.streaming

import graft.flow.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

case class FrameRow(media_id: Long, frame_idx: Int, fhash: java.lang.Long)

/** Streaming FRAME-LEVEL hamming near-dup admission
  * (StreamOps.frameHammingNearDupStream — the video twin of the scalar
  * hamming store): items are sets of aligned per-frame fingerprints; an
  * item drops when ≥ minMatchedFrames of its same-index frames are
  * within maxHamming bits of ONE admitted item (the batch
  * videoNearDupPairs contract). Position folds into the bucket key, so
  * bucket equality ⇒ frame alignment. */
class FrameHammingDedupStreamSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  // the store's committed snapshot (replaced files stay on disk until
  // vacuum, so a directory read would see them)
  private def logRead(store: String) =
    graft.operators.CommitLog.read(spark, new org.apache.hadoop.fs.Path(store)).get

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_fdup").toString

  /** deterministic base hash per (seed, frame) — different seeds or
    * frames are ~32 bits apart, far above maxHamming=6 */
  private def base(seed: Int, f: Int): Long =
    new scala.util.Random(seed * 1000 + f).nextLong()
  /** item = 6 frames of the seed family; `flip(f)` bits flipped on
    * frame f (hamming = flip(f) vs the base item's frame f) */
  private def item(id: Long, seed: Int, flip: Int => Seq[Int] = _ => Nil): Seq[FrameRow] =
    (0 until 6).map(f => FrameRow(id, f,
      flip(f).foldLeft(base(seed, f))((h, b) => h ^ (1L << b))))

  /** batch-operator reference over a corpus: aligned-frame pairs with
    * ≥ minMatched agreement; the larger id of every qualifying pair
    * loses (graft.multimodal.Multimodal.videoNearDupPairs verbatim). */
  private def batchLosers(
      rows: Seq[FrameRow], maxHamming: Int, minMatched: Int): Set[Long] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.operators.Dedup.hammingNearDupPairs(
        rows.toDF(), "media_id", "fhash", maxHamming,
        groupCols = Seq("frame_idx"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("m"))
      .filter(col("m") >= minMatched)
      .select("id_b").as[Long].collect().toSet
  }

  test("3-batch MemoryStream union equals the batch operator's survivor " +
    "set at the aligned-frame contract") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = tmp()

    // v1 admits; v2 = v1 lightly re-mastered on every frame (drops in
    // batch 0); v3 near v1 on 4 frames (drops vs history); v4 near v1 on
    // only 2 frames (admits); v5 unrelated (admits); v6 ≡ v4 (drops)
    val b0 = item(1, 7) ++ item(2, 7, f => Seq(f % 3))
    val b1 = item(3, 7, f => if (f < 4) Seq(1, 9) else Seq(1, 9, 20, 33, 40, 50, 60)) ++
      item(4, 7, f => if (f < 2) Seq(2) else Seq(7, 11, 17, 23, 35, 44, 58, 63))
    val b2 = item(5, 99) ++ item(6, 7, f => if (f < 2) Seq(2) else Seq(7, 11, 17, 23, 35, 44, 58, 63))
    val all = b0 ++ b1 ++ b2

    val in = MemoryStream[FrameRow]
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    in.addData(b0: _*)
    val q = StreamOps.frameHammingNearDupStream(
      in.toDF(), dir + "/fps", dir + "/ckpt",
      maxHamming = 6, minMatchedFrames = 4) { (df, _) =>
      admitted ++= df.select("media_id").distinct().as[Long].collect()
    }
    q.processAllAvailable()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()

    val survivors = all.map(_.media_id).distinct
      .filterNot(batchLosers(all, 6, 4)).sorted
    assert(admitted.sorted.toSeq == survivors,
      s"stream ${admitted.sorted} vs batch $survivors")
    assert(admitted.sorted.toSeq == Seq(1L, 4L, 5L))

    // store = admitted items × 6 frames × autoChunks(6)=4 exact band rows
    val stored = logRead(dir + "/fps")
    assert(stored.columns.toSet ==
      Set("graft_id", "graft_pos", "graft_sh", "graft_bucket", "batch"))
    assert(stored.count() == 3 * 6 * 4)
    assert(stored.select("graft_id").distinct().as[Long].collect().sorted.toSeq ==
      Seq(1L, 4L, 5L))
  }

  test("matches must concentrate on ONE admitted item: minMatched-1 " +
    "aligned frames admit, and matches spread across two admitted items " +
    "do not sum; misaligned identical frames never match") {
    import spark.implicits._
    val store = tmp() + "/fps"
    // two admitted reference items
    val a0 = StreamOps.applyFrameHammingNearDupBatch(
      (item(1, 11) ++ item(2, 22)).toDF(), store, 0L, minMatchedFrames = 4)
      .select("media_id").distinct().as[Long].collect().sorted.toSeq
    assert(a0 == Seq(1L, 2L))
    // 3 frames near item 1 (below min=4), rest far: admits
    val probeA = item(10, 11,
      f => if (f < 3) Seq(0) else Seq(0, 13, 27, 39, 48, 55, 62))
    // 2 frames near item 1 + 2 frames near item 2, rest far: 4 total but
    // never ≥4 against ONE admitted item → admits
    val mixed = (0 until 6).map { f =>
      if (f < 2) FrameRow(11, f, base(11, f))
      else if (f < 4) FrameRow(11, f, base(22, f))
      else FrameRow(11, f, base(77, f))
    }
    // item 1's frames shifted one position: identical hashes, wrong
    // alignment → zero matches → admits
    val shifted = (0 until 6).map(f => FrameRow(12, f, base(11, (f + 1) % 6)))
    // 4 frames near item 2: drops
    val dup = item(13, 22,
      f => if (f < 4) Seq(3, 8) else Seq(3, 8, 19, 31, 47, 52, 61))
    val a1 = StreamOps.applyFrameHammingNearDupBatch(
      (probeA ++ mixed ++ shifted ++ dup).toDF(), store, 1L,
      minMatchedFrames = 4)
      .select("media_id").distinct().as[Long].collect().sorted.toSeq
    assert(a1 == Seq(10L, 11L, 12L), s"admitted $a1")
  }

  test("replay of the latest batch is idempotent; null-hash frames never " +
    "pair and an all-null item admits without occupying the store") {
    import spark.implicits._
    val store = tmp() + "/fps"
    val b0 = item(1, 5)
    StreamOps.applyFrameHammingNearDupBatch(b0.toDF(), store, 0L)
    val b1 = item(2, 5, _ => Seq(4)) ++ // near item 1 on all frames: drops
      (0 until 6).map(f => FrameRow(3, f, null)) // all-null: admits
    val a1 = StreamOps.applyFrameHammingNearDupBatch(b1.toDF(), store, 1L)
      .select("media_id").distinct().as[Long].collect().sorted.toSeq
    assert(a1 == Seq(3L), s"admitted $a1")
    val a1r = StreamOps.applyFrameHammingNearDupBatch(b1.toDF(), store, 1L)
      .select("media_id").distinct().as[Long].collect().sorted.toSeq
    assert(a1r == a1)
    // store: only item 1's frames (item 3's null frames occupy nothing)
    val stored = logRead(store)
    assert(stored.select("graft_id").distinct().as[Long].collect().toSeq == Seq(1L))
    assert(stored.count() == 6 * 4)
  }

  test("maintenance folds older batches; dedup against folded history " +
    "still works; config drift (chunks) is rejected loudly") {
    import spark.implicits._
    val store = tmp() + "/fps"
    (0 until 3).foreach { i =>
      StreamOps.applyFrameHammingNearDupBatch(
        item(10L * i, 500 + i).toDF(), store, i.toLong)
    }
    StreamOps.maintainFrameHammingNearDupStore(spark, store)
    val root = new org.apache.hadoop.fs.Path(store)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // live batch partitions: the committed snapshot's, not the listing's
    val parts = graft.operators.CommitLog
      .snapshotFiles(fs, root, graft.operators.CommitLog.currentVersion(fs, root))
      .map(_.takeWhile(_ != '/')).distinct.sorted
    assert(parts == Seq("batch=-1", "batch=2"), parts)
    // near-dup of the FOLDED batch-0 item still drops; fresh admits
    val a = StreamOps.applyFrameHammingNearDupBatch(
      (item(100, 500, _ => Seq(7)) ++ item(101, 888)).toDF(), store, 3L)
      .select("media_id").distinct().as[Long].collect().sorted.toSeq
    assert(a == Seq(101L), s"admitted $a")
    val eC = intercept[IllegalArgumentException] {
      StreamOps.applyFrameHammingNearDupBatch(
        item(999, 1).toDF(), store, 4L, maxHamming = 15, chunks = 8)
    }
    assert(eC.getMessage.contains("chunks=4"), eC.getMessage)
  }

  test("commit-log mode: admissions match the legacy store batch for " +
    "batch; fold keeps history and the replay high-water mark") {
    import spark.implicits._
    val logStore = tmp() + "/fps"
    val batches = Seq(
      item(1, 31) ++ item(2, 31, f => Seq(f % 2, 10)), // 2 drops vs 1
      item(3, 31, _ => Seq(5)) ++ item(4, 64),          // 3 drops, 4 admits
      item(5, 64, f => if (f < 4) Seq(12) else Seq(3, 12, 25, 37, 49, 57, 63)))
    // per-batch admissions of the retired staged-swap store on these
    // batches, pinned
    val legacyAdmitted = Seq(Seq(1L), Seq(4L), Seq.empty[Long])
    val got = batches.zipWithIndex.map { case (b, i) =>
      StreamOps.applyFrameHammingNearDupBatch(b.toDF(), logStore, i.toLong)
        .select("media_id").distinct().as[Long].collect().sorted.toSeq
    }
    assert(got == legacyAdmitted, s"log $got vs legacy $legacyAdmitted")
    StreamOps.maintainFrameHammingNearDupStore(spark, logStore)
    val post = StreamOps.applyFrameHammingNearDupBatch(
      (item(8, 31, _ => Seq(2)) ++ item(9, 77)).toDF(), logStore, 3L)
      .select("media_id").distinct().as[Long].collect().sorted.toSeq
    assert(post == Seq(9L), s"admitted $post")
    intercept[IllegalArgumentException] {
      StreamOps.applyFrameHammingNearDupBatch(
        item(99, 1).toDF(), logStore, 1L)
    }
  }
  test("video wrapper: a streamed ingest admits each scene once and " +
    "drops a recompressed re-upload of an ADMITTED video cross-batch") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    implicit val sc = spark.sqlContext
    // the syntheticVideoCorpus mosaic family: 4-frame 64×64 sequences,
    // same group → same scene, different JPEG quality = re-upload
    def video(id: Long, group: Long, quality: Float): Multimodal.MediaRow = {
      val frames = (0 until 4).map { f =>
        val img = new java.awt.image.BufferedImage(
          64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until 64; x <- 0 until 64) {
          val h = group * 1315423911L + f * 2246822519L +
            (x / 8) * 2654435761L + (y / 8) * 97L
          val v = ((h ^ (h >>> 17)) % 256).toInt.abs
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
        Multimodal.JdkCodec.encodeJpeg(img, quality)
      }
      Multimodal.MediaRow(id, "video",
        Multimodal.JdkCodec.encodeMjpegAvi(frames, 64, 64,
          microSecPerFrame = 200000),
        "video/x-msvideo", Some(64), Some(64), None, Some(800L))
    }
    val dir = tmp()
    val in = MemoryStream[Multimodal.MediaRow]
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    in.addData(video(10, 1, 0.9f), video(20, 2, 0.9f))
    val q = Multimodal.videoNearDupStream(
      in.toDS(), dir + "/vids", dir + "/ckpt") { (df, _) =>
      admitted ++= df.select("media_id").distinct().as[Long].collect()
    }
    q.processAllAvailable()
    // batch 1: scene 1 re-mastered at q=0.4 drops; new scene 3 admits
    in.addData(video(30, 1, 0.4f), video(40, 3, 0.9f))
    q.processAllAvailable()
    q.stop()
    assert(admitted.sorted.toSeq == Seq(10L, 20L, 40L), admitted.sorted)
  }
}
