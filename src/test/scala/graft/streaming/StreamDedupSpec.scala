package graft.streaming

import graft.flow.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

case class Doc(doc_id: Long, text: String)

/** Incremental near-dup dedup against a persistent signature store
  * (StreamOps.nearDupStream): cross-batch dups are dropped, within-batch
  * dups keep the min-id survivor, and a replayed batch is idempotent
  * (same admissions, store unchanged) — the continuous-ingestion form of
  * corpus dedup. */
class StreamDedupSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  // the committed signature table (the store keeps it under `sigs/`)
  private def sigsRead(store: String) =
    graft.operators.CommitLog.readSub(spark, new org.apache.hadoop.fs.Path(store), "sigs").get

  // long enough that a one-word edit stays above jaccard 0.9 (an edit
  // moves ~3 of ~n shingles; at ~60 tokens J ≈ 55/61 ≈ 0.9)
  private val base = "the quick brown fox jumps over the lazy dog and " +
    "runs far away home tonight under a bright cold moon with friends " +
    "while the river keeps rolling softly past the old stone bridge and " +
    "the wind carries dry leaves across the empty market square where " +
    "lanterns swing slowly casting long amber shadows on the cobblestones " +
    "until the first light of morning returns the town to its usual noise"
  private def edit(w: String) = base.replace("tonight", w)
  private val other = "completely different content about spark engines " +
    "distributed joins shuffles and the adaptive query execution planner"

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_sdedup").toString

  test("cross-batch near-dups are dropped; within-batch keeps min id; " +
    "new content admits") {
    import spark.implicits._
    val store = tmp() + "/sigs"

    // batch 0: doc 1 and its near-dup 2 (one-word edit), unrelated 3
    val b0 = Seq(Doc(1, base), Doc(2, edit("today")), Doc(3, other)).toDF()
    val a0 = StreamOps.applyNearDupBatch(b0, store, 0L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a0 == Seq(1L, 3L), s"admitted $a0")

    // batch 1: doc 4 near-dups ADMITTED history (doc 1), doc 5 is new
    val b1 = Seq(Doc(4, edit("tomorrow")), Doc(5, other + " but reworded " +
      "entirely with novel phrasing and extra unmatched vocabulary")).toDF()
    val a1 = StreamOps.applyNearDupBatch(b1, store, 1L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a1 == Seq(5L), s"admitted $a1")

    // the store holds exactly the admitted signatures
    val stored = sigsRead(store)
      .select("graft_id").as[Long].collect().sorted.toSeq
    assert(stored == Seq(1L, 3L, 5L), s"store $stored")
  }

  test("a replayed batch is idempotent: same admissions, no duplicate " +
    "store rows, and its own prior partition never flags it") {
    import spark.implicits._
    val store = tmp() + "/sigs"
    val b0 = Seq(Doc(1, base), Doc(2, other)).toDF()
    val first = StreamOps.applyNearDupBatch(b0, store, 0L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // replay the same batchId (foreachBatch is at-least-once)
    val replay = StreamOps.applyNearDupBatch(b0, store, 0L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(replay == first, s"replay $replay vs first $first")
    val stored = sigsRead(store)
      .select("graft_id").as[Long].collect().sorted.toSeq
    assert(stored == Seq(1L, 2L), s"store $stored")
  }

  test("degenerate batches: an empty batch admits nothing and leaves " +
    "history intact; an all-dup batch admits nothing") {
    import spark.implicits._
    val store = tmp() + "/sigs"
    val b0 = Seq(Doc(1, base)).toDF()
    assert(StreamOps.applyNearDupBatch(b0, store, 0L).count() == 1)
    // empty batch
    val empty = StreamOps.applyNearDupBatch(b0.limit(0), store, 1L)
    assert(empty.count() == 0)
    // every row a near-dup of history
    val b2 = Seq(Doc(7, edit("whenever")), Doc(8, base)).toDF()
    assert(StreamOps.applyNearDupBatch(b2, store, 2L).count() == 0)
    assert(sigsRead(store).select("graft_id").as[Long]
      .collect().toSeq == Seq(1L))
  }

  test("a store built with a different numHashes is rejected loudly, " +
    "never silently skewing similarity estimates") {
    import spark.implicits._
    val store = tmp() + "/sigs"
    val b0 = Seq(Doc(1, base)).toDF()
    StreamOps.applyNearDupBatch(b0, store, 0L, numHashes = 64)
    val e = intercept[IllegalArgumentException] {
      StreamOps.applyNearDupBatch(b0, store, 1L, numHashes = 128)
    }
    assert(e.getMessage.contains("numHashes=64"), e.getMessage)
  }

  test("maintenance folds old batch partitions into batch=-1 in the " +
    "store and both sidecars; dedup and latest-batch replay survive") {
    import spark.implicits._
    val store = tmp() + "/sigs"
    val other2 = "a third unrelated corpus segment describing parquet " +
      "footers columnar encodings dictionary pages and row group statistics"
    StreamOps.applyNearDupBatch(Seq(Doc(1, base), Doc(2, other)).toDF(), store, 0L)
    StreamOps.applyNearDupBatch(Seq(Doc(3, other2)).toDF(), store, 1L)
    val b2 = Seq(Doc(4, edit("forever")), Doc(5, other2 + " but reworded " +
      "with enough additional novel unmatched vocabulary to stay distinct " +
      "from anything previously admitted into the signature store")).toDF()
    val a2 = StreamOps.applyNearDupBatch(b2, store, 2L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a2 == Seq(5L), s"admitted $a2") // 4 near-dups batch-0's doc 1

    StreamOps.maintainNearDupStore(spark, store)
    val root = new org.apache.hadoop.fs.Path(store)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // live batch partitions of one of the store's three tables
    def partNames(sub: String) = graft.operators.CommitLog
      .snapshotFiles(fs, root, graft.operators.CommitLog.currentVersion(fs, root))
      .filter(_.startsWith(sub + "/")).map(_.split('/')(1)).distinct.sorted
    // batches 0 and 1 folded; the latest (2) keeps its own partition so
    // an at-least-once replay can still exclude and replace itself
    assert(partNames("sigs") == Seq("batch=-1", "batch=2"), partNames("sigs"))
    assert(partNames("bands") == Seq("batch=-1", "batch=2"))
    assert(partNames("buckets") == Seq("batch=-1", "batch=2"))
    val stored = sigsRead(store)
      .select("graft_id").as[Long].collect().sorted.toSeq
    assert(stored == Seq(1L, 2L, 3L, 5L), s"store $stored")

    // replay of the latest batch after the fold: identical admissions
    val replay = StreamOps.applyNearDupBatch(b2, store, 2L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(replay == a2, s"replay $replay vs $a2")

    // new batches keep deduping against FOLDED history
    val a3 = StreamOps.applyNearDupBatch(
      Seq(Doc(6, edit("anytime"))).toDF(), store, 3L).count()
    assert(a3 == 0, "near-dup of folded history must still be dropped")

    // a second maintenance pass with nothing new to fold is a no-op
    StreamOps.maintainNearDupStore(spark, store)
    assert(sigsRead(store).count() == 4)

    // out-of-protocol replay of an already-folded batch id fails LOUDLY
    // before touching the store — its prior admissions sit in batch=-1
    // and would silently flag the whole replay as duplicates of itself
    val e = intercept[IllegalArgumentException] {
      StreamOps.applyNearDupBatch(
        Seq(Doc(1, base), Doc(2, other)).toDF(), store, 0L)
    }
    assert(e.getMessage.contains("out-of-protocol replay"), e.getMessage)
    assert(sigsRead(store).count() == 4, "store untouched")
  }

  test("idCoverFilter: gap-split ranges cover exactly the candidate " +
    "clusters and keep the column's literal type") {
    import spark.implicits._
    // two tight clusters far apart — the cover must be two ranges, not
    // one [1, 1000009] span that would defeat row-group pruning
    val ids: Array[Any] = Array[Any](1L, 2L, 3L, 1000007L, 1000009L)
    val df = (Seq(1L, 2L, 3L, 500000L, 1000007L, 1000009L)).toDF("graft_id")
    val cover = StreamOps.idCoverFilter(
      org.apache.spark.sql.functions.col("graft_id"), ids)
    assert(cover.isDefined)
    val covered = df.where(cover.get).as[Long].collect().sorted.toSeq
    // superset of the ids, but NOT the mid-gap value
    assert(covered == Seq(1L, 2L, 3L, 1000007L, 1000009L), covered)
    // string ids: single min/max range; unsupported types: None
    val sCover = StreamOps.idCoverFilter(
      org.apache.spark.sql.functions.col("s"), Array[Any]("b", "d"))
    val sdf = Seq("a", "b", "c", "d", "e").toDF("s")
    assert(sdf.where(sCover.get).as[String].collect().sorted.toSeq ==
      Seq("b", "c", "d"))
    assert(StreamOps.idCoverFilter(
      org.apache.spark.sql.functions.col("x"),
      Array[Any](java.math.BigDecimal.ONE)).isEmpty)
  }

  test("a store built with different LSH banding is rejected loudly via " +
    "the config sidecar") {
    import spark.implicits._
    val store = tmp() + "/sigs"
    val b0 = Seq(Doc(1, base)).toDF()
    StreamOps.applyNearDupBatch(b0, store, 0L, bands = 16)
    val e = intercept[IllegalArgumentException] {
      StreamOps.applyNearDupBatch(b0, store, 1L, bands = 8)
    }
    assert(e.getMessage.contains("bands=16"), e.getMessage)
  }

  test("the id-pushdown verify fetch and the full-scan fallback admit " +
    "identically") {
    import spark.implicits._
    val mk = (suffix: String) => {
      val store = tmp() + "/sigs" + suffix
      StreamOps.applyNearDupBatch(
        Seq(Doc(1, base), Doc(2, other)).toDF(), store, 0L)
      store
    }
    val b1 = Seq(Doc(3, edit("eventually")), Doc(4, other + " padded with " +
      "plenty of additional distinct vocabulary to stay clear of every " +
      "admitted signature in the persistent history store")).toDF()
    // pushdown path (default cap) vs forced full-scan path (cap = 0)
    val viaPushdown = StreamOps.applyNearDupBatch(b1, mk("a"), 1L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val viaScan = StreamOps.applyNearDupBatch(b1, mk("b"), 1L,
      maxVerifyFetch = 0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaPushdown == Seq(4L), s"pushdown admitted $viaPushdown")
    assert(viaScan == viaPushdown, s"scan path admitted $viaScan")
  }

  test("end to end through foreachBatch on a MemoryStream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp()
    val store = dir + "/sigs"
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val mem = MemoryStream[Doc]
    val q = StreamOps.nearDupStream(mem.toDF(), store, dir + "/ckpt") {
      (df, _) =>
        admitted.synchronized {
          admitted ++= df.select("doc_id").as[Long].collect()
        }
        ()
    }
    try {
      mem.addData(Doc(10, base), Doc(11, other))
      q.processAllAvailable()
      mem.addData(Doc(12, edit("someday")))  // near-dup of stored 10
      q.processAllAvailable()
      assert(admitted.sorted.toSeq == Seq(10L, 11L), admitted)
    } finally q.stop()
  }

  test("per-batch caches are released: the persisted-RDD set is back at " +
    "its baseline after each of 4 near-dup batches") {
    import spark.implicits._
    val store = tmp() + "/sigs"
    def cachedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val baseline = cachedIds
    for (b <- 0 until 4) {
      // each batch holds a within-batch near-dup pair and one doc that
      // near-dups history, so every branch of the admission runs
      val id = 100L * (b + 1)
      val batch = Seq(Doc(id, edit(s"day$b")), Doc(id + 1, edit(s"night$b")),
        Doc(id + 2, s"$other batch $b")).toDF()
      val admitted = StreamOps.applyNearDupBatch(batch, store, b.toLong)
      val ids = admitted.select("doc_id").as[Long].collect().toSet
      admitted.unpersist()
      assert(!ids.contains(id + 1), s"batch $b admitted $ids")
      assert(cachedIds == baseline,
        s"batch $b left ${(cachedIds -- baseline).size} RDDs persisted")
    }
  }
}
