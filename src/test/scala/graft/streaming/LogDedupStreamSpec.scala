package graft.streaming

import graft.operators.CommitLog
import org.apache.hadoop.fs.Path
import graft.flow.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Commit-log mode of the streaming dedup stores: one store root, the
  * sub-tables (`sigs/ bands/ buckets/`, or `batch=` dirs for exact
  * dedup) under a single `_log/`, every batch admission and every
  * maintenance fold ONE atomic manifest. Pins: admissions equal to the
  * retired staged-swap store's, replay idempotence via retire-and-replace, the
  * fold's single-version atomicity across all three tables, the
  * manifest-meta replay high-water mark SURVIVING folds, crash
  * leftovers staying invisible until vacuumed, and the SerialToken that
  * serializes writers riding every commit. */
class LogDedupStreamSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

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
    java.nio.file.Files.createTempDirectory("graft_logdedup").toString

  private def fsOf(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def admit(store: String, batchId: Long, docs: Seq[Doc]): Seq[Long] = {
    import spark.implicits._
    val admitted = StreamOps.applyNearDupBatch(docs.toDF(), store, batchId)
    val out = admitted.select("doc_id").as[Long].collect().sorted.toSeq
    admitted.unpersist()
    out
  }

  private def admitExact(store: String, batchId: Long, docs: Seq[Doc]): Seq[Long] = {
    import spark.implicits._
    val admitted = StreamOps.applyExactDedupBatch(docs.toDF(), store, batchId)
    val out = admitted.select("doc_id").as[Long].collect().sorted.toSeq
    admitted.unpersist()
    out
  }

  test("near-dup log store matches the legacy store batch for batch, " +
    "builds the one-root layout, and every commit carries the serial token") {
    import spark.implicits._
    val log = tmp() + "/sigs"
    val batches = Seq(
      0L -> Seq(Doc(1, base), Doc(2, edit("today")), Doc(3, other)),
      1L -> Seq(Doc(4, edit("tomorrow")), Doc(5, other + " but reworded " +
        "entirely with novel phrasing and extra unmatched vocabulary")),
      2L -> Seq(Doc(6, base), Doc(7, "fresh unrelated text about parquet " +
        "row groups column chunks page headers and dictionary encoding")))
    // per-batch admissions of the retired staged-swap store on these
    // batches, pinned
    val legacyAdmitted = Seq(Seq(1L, 3L), Seq(5L), Seq(7L))
    val got = batches.map { case (id, docs) => admit(log, id, docs) }
    assert(got == legacyAdmitted, s"log $got vs legacy $legacyAdmitted")
    assert(got.head == Seq(1L, 3L)) // sanity: dedup actually happened

    val store = new Path(log)
    val fs = fsOf(store)
    assert(CommitLog.isLog(fs, store))
    assert(CommitLog.currentVersion(fs, store) == 3L)
    val sigs = CommitLog.readSub(spark, store, "sigs").get
      .select("graft_id").as[Long].collect().sorted.toSeq
    assert(sigs == got.flatten.sorted, s"store $sigs")
    // bands/buckets landed in the SAME commits (one manifest per batch)
    (1L to 3L).foreach { v =>
      val m = CommitLog.readManifest(fs, store, v)
      assert(m.touched.contains(CommitLog.SerialToken), s"v$v ${m.touched}")
      Seq("sigs", "bands", "buckets").foreach(sub =>
        assert(m.added.exists(_.startsWith(sub + "/")),
          s"v$v added ${m.added}"))
    }
  }

  test("near-dup replay retires and replaces its own dirs in one commit; " +
    "admissions are idempotent and history holds one copy") {
    import spark.implicits._
    val store = tmp() + "/sigs"
    val docs = Seq(Doc(1, base), Doc(2, other))
    val first = admit(store, 0L, docs)
    val v1 = CommitLog.currentVersion(fsOf(new Path(store)), new Path(store))
    val replay = admit(store, 0L, docs)
    assert(replay == first)
    val p = new Path(store)
    assert(CommitLog.currentVersion(fsOf(p), p) == v1 + 1)
    val sigs = CommitLog.readSub(spark, p, "sigs").get
      .select("graft_id").as[Long].collect().sorted.toSeq
    assert(sigs == Seq(1L, 2L), s"store $sigs") // no duplicate rows
  }

  test("near-dup maintenance folds all three sub-tables in ONE version; " +
    "admissions still drop dups afterwards and the folded-replay guard " +
    "fires from the manifest high-water mark") {
    import spark.implicits._
    val store = tmp() + "/sigs"
    admit(store, 0L, Seq(Doc(1, base)))
    admit(store, 1L, Seq(Doc(2, other)))
    admit(store, 2L, Seq(Doc(3, "independent third document about " +
      "watermarks state stores and trigger intervals in streaming")))
    val p = new Path(store)
    val fs = fsOf(p)
    val vBefore = CommitLog.currentVersion(fs, p)
    StreamOps.maintainNearDupStore(spark, store)
    assert(CommitLog.currentVersion(fs, p) == vBefore + 1) // ONE commit
    val files = CommitLog.snapshotFiles(fs, p, vBefore + 1)
    Seq("sigs", "bands", "buckets").foreach { sub =>
      assert(files.exists(_.startsWith(s"$sub/batch=-1/")), s"$sub not folded")
      assert(!files.exists(f => f.startsWith(s"$sub/batch=0/") ||
        f.startsWith(s"$sub/batch=1/")), s"$sub kept folded dirs")
      assert(files.exists(_.startsWith(s"$sub/batch=2/")), s"$sub lost latest")
    }
    // a dup of FOLDED history still drops
    val a = admit(store, 3L, Seq(Doc(9, edit("yesterday")), Doc(10,
      "entirely novel content mentioning bloom filters and zone maps")))
    assert(a == Seq(10L), s"admitted $a")
    // high-water mark survived the fold: replaying batch 1 fails loudly
    val e = intercept[IllegalArgumentException] {
      admit(store, 1L, Seq(Doc(11, base)))
    }
    assert(e.getMessage.contains("out-of-protocol replay"))

    // maintenance also vacuums: once retention moves past the pre-fold
    // version, the folded batch dirs physically disappear
    admit(store, 4L, Seq(Doc(12, "one more distinct document to push " +
      "the retained window past the first fold's base version")))
    StreamOps.maintainNearDupStore(spark, store)
    val gone = Seq("sigs/batch=0", "sigs/batch=1", "bands/batch=0",
      "buckets/batch=0")
    gone.foreach { d =>
      val dir = new Path(p, d)
      assert(!fs.exists(dir) || fs.listStatus(dir).isEmpty,
        s"$d still holds files after vacuum")
    }
    // and the store still answers: dup of folded-twice history drops
    val a2 = admit(store, 5L, Seq(Doc(13, edit("someday"))))
    assert(a2 == Seq(), s"admitted $a2")
  }

  test("near-dup crash leftovers (staged but uncommitted) are invisible " +
    "to reads and admissions, and vacuum sweeps them") {
    import spark.implicits._
    val store = tmp() + "/sigs"
    admit(store, 0L, Seq(Doc(1, base)))
    val p = new Path(store)
    val fs = fsOf(p)
    val v = CommitLog.currentVersion(fs, p)
    // simulate a writer that crashed after moving files in, before CAS:
    // an orphan parquet file inside a live partition dir
    val orphan = new Path(p, "sigs/batch=7/part-orphan.parquet")
    fs.mkdirs(orphan.getParent)
    val out = fs.create(orphan, true)
    out.write(Array[Byte](1, 2, 3)); out.close()
    assert(CommitLog.currentVersion(fs, p) == v) // nothing published
    val sigs = CommitLog.readSub(spark, p, "sigs").get
      .select("graft_id").as[Long].collect().toSeq
    assert(sigs == Seq(1L)) // snapshot ignores the orphan
    // admissions keep working (batch 1 sees only committed history)
    assert(admit(store, 1L, Seq(Doc(2, other))) == Seq(2L))
    CommitLog.vacuum(spark, p, retainVersions = 10, orphanGraceMs = 0L)
    assert(!fs.exists(orphan), "orphan survived vacuum")
  }

  test("exact-dedup log store: cross-batch drop, replay idempotence, " +
    "fold keeps dropping and preserves the replay guard") {
    import spark.implicits._
    val store = tmp() + "/fps"
    assert(admitExact(store, 0L, Seq(Doc(1, "aaa"), Doc(2, "bbb"),
      Doc(3, "aaa"))) == Seq(1L, 2L)) // within-batch min id
    assert(admitExact(store, 1L, Seq(Doc(4, "bbb"), Doc(5, "ccc"))) ==
      Seq(5L)) // cross-batch
    // replay of the newest batch: same admissions, no duplicate rows
    assert(admitExact(store, 1L, Seq(Doc(4, "bbb"), Doc(5, "ccc"))) ==
      Seq(5L))
    val p = new Path(store)
    val fs = fsOf(p)
    val stored = CommitLog.read(spark, p).get
      .select("graft_id").as[Long].collect().sorted.toSeq
    assert(stored == Seq(1L, 2L, 5L), s"store $stored")

    val vBefore = CommitLog.currentVersion(fs, p)
    StreamOps.maintainExactDedupStore(spark, store)
    assert(CommitLog.currentVersion(fs, p) == vBefore + 1)
    val files = CommitLog.snapshotFiles(fs, p, vBefore + 1)
    assert(files.exists(_.startsWith("batch=-1/")))
    assert(!files.exists(_.startsWith("batch=0/")))
    // folded fingerprints still drop dups
    assert(admitExact(store, 2L, Seq(Doc(6, "aaa"), Doc(7, "ddd"))) ==
      Seq(7L))
    // and the guard fires for a pre-fold batch id
    val e = intercept[IllegalArgumentException] {
      admitExact(store, 0L, Seq(Doc(8, "eee")))
    }
    assert(e.getMessage.contains("out-of-protocol replay"))
  }

  test("end-to-end MemoryStream run on a LOG store survives a stream " +
    "restart: admissions persist in the manifests, not the state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = tmp()
    val store = dir + "/fps"
    val checkpoint = dir + "/ckpt"
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val in = MemoryStream[Doc]
    in.addData(Doc(1, "one"), Doc(2, "two"))
    val q1 = StreamOps.exactDedupStream(in.toDF(), store, checkpoint) {
      (df, _) => admitted ++= df.select("doc_id").as[Long].collect()
    }
    q1.processAllAvailable()
    q1.stop()
    assert(admitted.sorted.toSeq == Seq(1L, 2L))
    assert(CommitLog.isLog(fsOf(new Path(store)), new Path(store)))

    in.addData(Doc(3, "one"), Doc(4, "three"))
    val q2 = StreamOps.exactDedupStream(in.toDF(), store, checkpoint) {
      (df, _) => admitted ++= df.select("doc_id").as[Long].collect()
    }
    q2.processAllAvailable()
    q2.stop()
    assert(admitted.sorted.toSeq == Seq(1L, 2L, 4L))
  }

  test("config guard: a log store built with one LSH config refuses a " +
    "mismatched stream before touching anything") {
    import spark.implicits._
    val store = tmp() + "/sigs"
    admit(store, 0L, Seq(Doc(1, base)))
    val e = intercept[IllegalArgumentException] {
      StreamOps.applyNearDupBatch(
        Seq(Doc(2, other)).toDF(), store, 1L, numHashes = 64)
    }
    assert(e.getMessage.contains("was built with"))
    // store unchanged: still exactly one committed batch
    val p = new Path(store)
    assert(CommitLog.currentVersion(fsOf(p), p) == 1L)
  }

  test("manifest file stats: recorded at commit, survive fold and " +
    "checkpoint replay, and prune history files whose range cannot match") {
    import spark.implicits._
    val store = tmp() + "/fps"
    // three batches of disjoint fingerprint-able content
    (0 until 3).foreach { i =>
      admitExact(store, i.toLong,
        (0 until 40).map(j => Doc(100L * i + j, s"doc-$i-$j")))
    }
    val p = new Path(store)
    val fs = fsOf(p)
    // every committed data file carries a graft_fp range
    val withStats = CommitLog.snapshotFilesWithStats(
      fs, p, CommitLog.currentVersion(fs, p))
    assert(withStats.nonEmpty && withStats.forall(_._2.isDefined),
      withStats.toString)
    // fold sorts by fingerprint → per-file ranges stay recorded; tiny
    // target bytes force SEVERAL fold files with disjoint ranges
    StreamOps.maintainExactDedupStore(spark, store, targetFileBytes = 2000)
    val folded = CommitLog.snapshotFilesWithStats(
      fs, p, CommitLog.currentVersion(fs, p))
    assert(folded.forall(_._2.isDefined), folded.toString)
    assert(folded.map(_._2.get.tpe).toSet == Set("string"))
    val foldFiles = folded.filter(_._1.startsWith("batch=-1/"))
    assert(foldFiles.length >= 2, folded.map(_._1).toString)

    // a candidate range inside ONE fold file's range prunes the others
    val one = foldFiles.head
    val pruned = StreamOps.prunedRead(spark, p, None,
      CommitLog.currentVersion(fs, p),
      Some(Seq((one._2.get.min, one._2.get.min))))
    assert(pruned.isDefined)
    val inputs = pruned.get.inputFiles.length
    assert(inputs < folded.length,
      s"no pruning: read $inputs of ${folded.length}")
    // a range outside every file reads nothing at all
    assert(StreamOps.prunedRead(spark, p, None,
      CommitLog.currentVersion(fs, p),
      Some(Seq(("zzzz", "zzzz")))).isEmpty)
    // and correctness is unchanged: dup of folded history still drops
    assert(admitExact(store, 3L, Seq(Doc(9000, "doc-0-5"), Doc(9001, "new"))) ==
      Seq(9001L))
  }

  test("a concurrent commit landing after a writer's read version makes " +
    "its publication fail loudly (serialized writers, no lease files)") {
    import spark.implicits._
    val store = tmp() + "/sigs"
    admit(store, 0L, Seq(Doc(1, base)))
    val p = new Path(store)
    val fs = fsOf(p)
    val staleBase = CommitLog.currentVersion(fs, p)
    // another writer commits batch 1 meanwhile
    admit(store, 1L, Seq(Doc(2, other)))
    // our writer staged against staleBase and now tries to publish
    val staging = new Path(p.toString + ".staging-race")
    spark.range(1).selectExpr("id as graft_id")
      .write.parquet(new Path(staging, "sigs/batch=9").toString)
    val e = intercept[CommitLog.ConflictException] {
      CommitLog.commitStaged(spark, p, staging, staleBase,
        retireNames = Seq("sigs/batch=9"), wholeStore = false,
        extraTouched = Seq(CommitLog.SerialToken))
    }
    assert(e.getMessage.contains("re-run"))
    // the loser's files never became visible
    val sigs = CommitLog.readSub(spark, p, "sigs").get
      .select("graft_id").as[Long].collect().sorted.toSeq
    assert(sigs == Seq(1L, 2L))
  }
}
