package graft.streaming

import graft.flow.SparkTestSession
import graft.operators.CommitLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The admission-store lifecycle, pinned once for all five families
  * (MinHash near-dup, exact, embedding, hamming, frame hamming): the
  * replay guard, idempotent replay of the newest batch, maintenance that
  * changes no admission, a store that holds nothing but its retained
  * snapshots and `_log/` after maintenance, and per-batch caches that
  * never outlive the returned admitted frame. Each family runs the same
  * four-batch script: every batch holds a within-batch duplicate or a
  * duplicate of history, and batch 3 duplicates batch-0 content. */
class AdmissionStoreSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_admission").toString

  private def fsOf(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One family: its id column, its four batches, and its apply and
    * maintain steps bound to a store path. */
  private case class Family(
      name: String,
      idCol: String,
      batches: () => Seq[DataFrame],
      apply: (DataFrame, String, Long) => DataFrame,
      maintain: String => Unit)

  // ~60 words from a 400-word vocabulary: a one-word edit keeps shingle
  // Jaccard near 0.9, different seeds share almost nothing
  private def words(seed: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(60)(s"w${rnd.nextInt(400)}")
  }
  private def text(seed: Int): String = words(seed).mkString(" ")
  private def edited(seed: Int, w: String): String = words(seed).updated(30, w).mkString(" ")

  private def unit(seed: Int): Array[Float] = {
    val rnd = new scala.util.Random(seed)
    val v = Array.fill(8)(rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }
  private def near(seed: Int): Array[Float] = {
    val v = unit(seed).map(_.toDouble)
    v(0) += 0.02; v(3) -= 0.02
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def hash(seed: Int): java.lang.Long = new scala.util.Random(seed).nextLong()
  private def flipped(seed: Int, bits: Int*): java.lang.Long =
    bits.foldLeft(hash(seed).longValue)((h, b) => h ^ (1L << b))

  private def item(id: Long, seed: Int, flip: Int => Seq[Int] = _ => Nil): Seq[FrameRow] =
    (0 until 6).map(f => FrameRow(id, f,
      flip(f).foldLeft(new scala.util.Random(seed * 1000 + f).nextLong())((h, b) => h ^ (1L << b))))

  private lazy val families: Seq[Family] = {
    import spark.implicits._
    Seq(
      Family("near-dup", "doc_id",
        () => Seq(
          Seq(Doc(1, text(1)), Doc(2, edited(1, "today")), Doc(3, text(2))),
          Seq(Doc(4, edited(1, "tomorrow")), Doc(5, text(3))),
          Seq(Doc(6, edited(3, "again")), Doc(7, text(4)), Doc(8, text(5))),
          Seq(Doc(9, edited(2, "someday")), Doc(10, text(6)))).map(_.toDF()),
        StreamOps.applyNearDupBatch(_, _, _),
        StreamOps.maintainNearDupStore(spark, _)),
      Family("exact", "doc_id",
        () => Seq(
          Seq(Doc(1, "a"), Doc(2, "b"), Doc(3, "a")),
          Seq(Doc(4, "b"), Doc(5, "c")),
          Seq(Doc(6, "d"), Doc(7, "e"), Doc(8, "d")),
          Seq(Doc(9, "a"), Doc(10, "f"))).map(_.toDF()),
        StreamOps.applyExactDedupBatch(_, _, _),
        StreamOps.maintainExactDedupStore(spark, _)),
      Family("embedding", "doc_id",
        () => Seq(
          Seq(Emb(1, unit(11)), Emb(2, near(11)), Emb(3, unit(22))),
          Seq(Emb(4, near(22)), Emb(5, unit(33))),
          Seq(Emb(6, near(33)), Emb(7, unit(44)), Emb(8, unit(55))),
          Seq(Emb(9, near(11)), Emb(10, unit(66)))).map(_.toDF()),
        StreamOps.applyEmbeddingNearDupBatch(_, _, _),
        StreamOps.maintainEmbeddingNearDupStore(spark, _)),
      Family("hamming", "doc_id",
        () => Seq(
          Seq(FpRow(1, hash(11)), FpRow(2, hash(11)), FpRow(3, flipped(11, 0, 5)),
            FpRow(4, hash(22))),
          Seq(FpRow(5, flipped(22, 1)), FpRow(6, hash(33))),
          Seq(FpRow(7, flipped(33, 2, 9)), FpRow(8, hash(44)), FpRow(9, null)),
          Seq(FpRow(10, flipped(11, 3)), FpRow(11, hash(55)))).map(_.toDF()),
        StreamOps.applyHammingNearDupBatch(_, _, _),
        StreamOps.maintainHammingNearDupStore(spark, _)),
      Family("frame-hamming", "media_id",
        () => Seq(
          item(1, 7) ++ item(2, 7, f => Seq(f % 3)),
          item(3, 7, _ => Seq(1, 9)) ++ item(4, 99),
          item(5, 99, _ => Seq(4)) ++ item(6, 123),
          item(7, 7, _ => Seq(2)) ++ item(8, 321)).map(_.toDF()),
        StreamOps.applyFrameHammingNearDupBatch(_, _, _),
        StreamOps.maintainFrameHammingNearDupStore(spark, _)))
  }

  /** Run one batch; the admitted ids, sorted, with the frame released. */
  private def admit(f: Family, store: String, batchId: Long, batch: DataFrame): Seq[Long] = {
    val admitted = f.apply(batch, store, batchId)
    val ids = admitted.select(f.idCol).distinct().collect().map(_.getLong(0)).sorted.toSeq
    admitted.unpersist()
    ids
  }

  /** Content hash of the committed snapshot: every table's rows. */
  private def contentHash(store: String): String = {
    val p = new Path(store)
    val fs = fsOf(p)
    val files = CommitLog.snapshotFiles(fs, p, CommitLog.currentVersion(fs, p))
    val subs = files.map(_.split('/').head).filterNot(_.startsWith("batch=")).distinct.sorted
    val tables =
      if (subs.isEmpty) Seq(CommitLog.read(spark, p).get)
      else subs.map(CommitLog.readSub(spark, p, _).get)
    val rows = tables.map(_.collect().map(_.toString).sorted.mkString("\n")).mkString("\n--\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def version(store: String): Long = {
    val p = new Path(store)
    CommitLog.currentVersion(fsOf(p), p)
  }

  families.foreach { f =>
    test(s"${f.name}: a replay older than the newest batch is refused, " +
      "store untouched") {
      val store = tmp() + "/store"
      val bs = f.batches()
      admit(f, store, 0L, bs(0))
      admit(f, store, 1L, bs(1))
      val v = version(store)
      val e = intercept[IllegalArgumentException](admit(f, store, 0L, bs(0)))
      assert(e.getMessage.contains("out-of-protocol replay"), e.getMessage)
      assert(version(store) == v)
    }

    test(s"${f.name}: replaying the newest batch leaves an identical " +
      "snapshot and identical admissions") {
      val store = tmp() + "/store"
      val bs = f.batches()
      val got = (0 until 3).map(i => admit(f, store, i.toLong, bs(i)))
      val before = contentHash(store)
      assert(admit(f, store, 2L, bs(2)) == got(2))
      assert(contentHash(store) == before)
    }

    test(s"${f.name}: maintenance, then a new batch, admits the same rows " +
      "as without maintenance") {
      val (folded, plain) = (tmp() + "/store", tmp() + "/store")
      val bs = f.batches()
      val got = Seq(folded, plain).map { s =>
        (0 until 3).map(i => admit(f, s, i.toLong, bs(i)))
      }
      assert(got(0) == got(1))
      f.maintain(folded)
      val p = new Path(folded)
      assert(CommitLog.snapshotFiles(fsOf(p), p, version(folded)).exists(_.contains("batch=-1/")))
      val next = Seq(folded, plain).map(admit(f, _, 3L, bs(3)))
      assert(next(0) == next(1), s"folded ${next(0)} vs plain ${next(1)}")
      // batch 3 duplicates batch-0 content, so history really was consulted
      assert(next(0).size < bs(3).select(f.idCol).distinct().count())
    }

    test(s"${f.name}: after maintenance only the retained snapshots' files " +
      "and _log/ remain") {
      val dir = tmp()
      val store = dir + "/store"
      val bs = f.batches()
      (0 until 3).foreach(i => admit(f, store, i.toLong, bs(i)))
      admit(f, store, 2L, bs(2)) // retires the first attempt's files
      f.maintain(store)
      admit(f, store, 3L, bs(3))
      f.maintain(store)
      val p = new Path(store)
      val fs = fsOf(p)
      val tip = version(store)
      val retained = (tip - 1 to tip).flatMap(CommitLog.snapshotFiles(fs, p, _)).toSet
      val onDisk = {
        val it = fs.listFiles(p, true)
        val b = Seq.newBuilder[String]
        while (it.hasNext) {
          val rel = it.next().getPath.toUri.getPath.stripPrefix(p.toUri.getPath + "/")
          if (!rel.startsWith("_log/") && !rel.split('/').last.matches("[._].*")) b += rel
        }
        b.result().toSet
      }
      assert(onDisk == retained, s"extra: ${onDisk -- retained}, missing: ${retained -- onDisk}")
      assert(!onDisk.exists(f => f.contains("batch=0/") || f.contains("batch=1/")))
      // no staging or retired sibling dirs next to the store
      assert(fs.listStatus(new Path(dir)).map(_.getPath.getName).toSeq == Seq("store"))
    }

    test(s"${f.name}: after every batch the persisted RDDs are the " +
      "baseline plus the returned admitted frame") {
      val store = tmp() + "/store"
      val bs = f.batches()
      def cachedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val baseline = cachedIds
      val steps = (0 until 4).map(i => (i.toLong, bs(i))) :+ (3L -> bs(3))
      steps.zipWithIndex.foreach { case ((id, b), step) =>
        if (step == 3) f.maintain(store)
        val admitted = f.apply(b, store, id)
        assert((cachedIds -- baseline).size == 1,
          s"step $step held ${(cachedIds -- baseline).size} RDDs with the admitted frame")
        admitted.unpersist()
        assert(cachedIds == baseline, s"step $step left RDDs persisted")
      }
    }
  }

  test("near-dup: the within-batch self-join applies the stream's maxBucket") {
    import spark.implicits._
    // four identical docs fill every band bucket past maxBucket = 3, so
    // none of them pair; a one-word-edit pair below the cap still does
    val batch = (Seq(1L, 2L, 3L, 4L).map(Doc(_, text(41))) ++
      Seq(Doc(5, text(42)), Doc(6, edited(42, "else")))).toDF()
    val admitted = StreamOps.applyNearDupBatch(batch, tmp() + "/store", 0L, maxBucket = 3)
    val got = admitted.select("doc_id").as[Long].collect().sorted.toSeq
    admitted.unpersist()
    val pairs = graft.operators.Dedup.minhashNearDup(batch, "doc_id", "text",
      numHashes = 128, bands = 16, shingleN = 3, threshold = 0.8, maxBucket = 3)
    val losers = pairs.select("id_b").as[Long].collect().toSet
    pairs.unpersist()
    assert(losers == Set(6L), s"batch operator dropped $losers")
    assert(got == (1L to 6L).filterNot(losers), s"admitted $got")
  }

  test("every family: a history frame of a committed store, before and " +
    "after maintenance, is built without a Spark job") {
    families.foreach { f =>
      val store = tmp() + "/store"
      val bs = f.batches()
      (0 until 3).foreach(i => admit(f, store, i.toLong, bs(i)))
      def histories(): Unit = {
        val p = new Path(store)
        val v = version(store)
        val tables = CommitLog.snapshotFiles(fsOf(p), p, v).map(_.split('/').head).distinct
          .map(t => if (t.startsWith("batch=")) None else Some(t))
        val (frames, counts) = org.apache.spark.graft.JobTrace(spark.sparkContext)(
          tables.map(StreamOps.prunedRead(spark, p, _, v, None)))
        assert(frames.forall(_.isDefined))
        assert(counts.jobs == 0, s"${f.name}: $counts building ${tables.mkString(",")}")
      }
      histories()
      f.maintain(store)
      histories()
    }
  }
}
