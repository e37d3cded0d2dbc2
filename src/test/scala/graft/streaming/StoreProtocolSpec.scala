package graft.streaming

import java.nio.file.Files

import graft.flow.SparkTestSession
import graft.operators._
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** One store-commit protocol: every store operator writes through
  * [[CommitLog]], and a store written by the retired staged-swap
  * protocol comes under the log through [[CommitLog.adopt]] — its
  * crashed swap rolled forward first — or, when its layout differs from
  * the log layout, is refused by name. */
class StoreProtocolSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def tmp() = Files.createTempDirectory("graft_protocol").toString

  /** Every file name under `dir`, recursively. */
  private def namesUnder(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close()
  }

  test("every store operator on a fresh path leaves a _log/ and writes " +
    "no lease file") {
    val base = tmp()
    def p(n: String) = s"$base/$n"
    val kv = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Merge.into(spark, p("merge"), kv, Seq("k"))
    Scd2.apply(spark, p("scd2"), kv, "k", "2024-01-01 00:00:00")
    IncrementalAgg.update(spark, p("agg"), Seq(("a", 1.0)).toDF("k", "x"), Seq("k"), "x")
    DimUpsert.upsert(spark, p("dim"), kv, "k")
    Cdc.applyChanges(spark, p("cdc"),
      Seq((1L, "a", 1L, "U")).toDF("k", "v", "seq", "op"), Seq("k"), "seq", "op")
    Wap.appendAudited(spark, p("wap"), kv,
      Seq(Expectations.Complete("k", 1.0)))
    IncrementalJoin.appendTable(spark, p("ijoin"), kv)
    Bm25Index.buildAndSave(
      Seq((1L, "a b c"), (2L, "b c d")).toDF("id", "text"), p("bm25"), "id", "text")
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 7 + j * 3) % 11).toFloat + 1f)))
      .toDF("vec_id", "embedding")
    val ivf = IvfIndex.build(vecs, "vec_id", "embedding", nlist = 2)
    ivf.save(p("ivf"))
    ivf.assigned.unpersist()
    IvfPqIndex.buildAndSave(vecs, p("ivfpq"), "vec_id", "embedding",
      nlist = 2, m = 2, ksub = 4).codes.unpersist()
    StreamOps.applyNearDupBatch(Seq(Doc(1, "a b c d e")).toDF(), p("neardup"), 0L)
      .unpersist()
    StreamOps.applyExactDedupBatch(Seq(Doc(1, "a")).toDF(), p("exact"), 0L).unpersist()
    StreamOps.applyEmbeddingNearDupBatch(
      Seq(Emb(1, Array(1f, 0f))).toDF(), p("emb"), 0L).unpersist()
    StreamOps.applyHammingNearDupBatch(
      Seq(FpRow(1, 42L)).toDF(), p("ham"), 0L).unpersist()
    StreamOps.applyFrameHammingNearDupBatch(
      Seq(FrameRow(1, 0, 42L)).toDF(), p("frame"), 0L).unpersist()
    StreamOps.appendBatchOnce(kv, p("append"), 0L)
    StreamOps.applyAggBatchOnce(Seq(("a", 1.0)).toDF("k", "x"), p("aggstream"),
      Seq("k"), "x", 0L)

    val stores = Seq("merge", "scd2", "agg", "dim", "cdc", "wap", "ijoin",
      "bm25", "ivf", "ivfpq", "neardup", "exact", "emb", "ham", "frame",
      "append", "aggstream")
    stores.foreach { n =>
      assert(CommitLog.isLog(fs, new Path(p(n))), s"$n has no ${CommitLog.LogDirName}/")
    }
    val leases = namesUnder(base).filter(_.contains(".lock"))
    assert(leases.isEmpty, s"lease files written: $leases")
  }

  test("adopt rolls a legacy store's crashed partition swap forward and " +
    "publishes what swap recovery produced as version 1") {
    val store = s"${tmp()}/s"
    Seq((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p3")).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(store)
    // a partition-dir swap crashed after its intent marker: p=p1 retired,
    // p=p2 not yet, the rewrite of both fully staged
    val staging = s"$store.staging-zz"
    val retired = s"$store.old-zz"
    Seq((1L, "A", "p1"), (2L, "B", "p2")).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(staging)
    val out = fs.create(new Path(staging, Swap.DirsMarker), true)
    try out.write("p=p1\np=p2".getBytes("UTF-8")) finally out.close()
    fs.mkdirs(new Path(retired))
    assert(fs.rename(new Path(store, "p=p1"), new Path(retired, "p=p1")))

    val root = new Path(store)
    CommitLog.adopt(spark, root)
    assert(CommitLog.currentVersion(fs, root) == 1L)
    assert(CommitLog.readManifest(fs, root, 1L).meta.get("operation").contains("adopt"))
    // the rows swap recovery rolled forward to, pinned
    val rows = CommitLog.read(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "A", 2L -> "B", 3L -> "c"))
    assert(!fs.exists(new Path(staging)) && !fs.exists(new Path(retired)))
    assert(CommitLog.fastCount(fs, root, 1L).contains(3L))
    // adopting a log store is a no-op
    CommitLog.adopt(spark, root)
    assert(CommitLog.currentVersion(fs, root) == 1L)
  }

  test("a legacy three-root admission store is refused, naming the path") {
    val store = s"${tmp()}/sigs"
    Seq((1L, Seq(1L, 2L))).toDF("graft_id", "graft_sig")
      .write.parquet(s"$store/batch=0")
    Seq((1L, 0, 7L)).toDF("hist_id", "band", "bucket")
      .write.parquet(s"$store.bands/batch=0")
    Seq((0, 7L, 1L)).toDF("band", "bucket", "n")
      .write.parquet(s"$store.buckets/batch=0")
    Files.write(java.nio.file.Paths.get(s"$store.meta"),
      "numHashes=128\nbands=16\nshingleN=3\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      StreamOps.applyNearDupBatch(Seq(Doc(2, "a b c")).toDF(), store, 1L)
    }
    assert(e.getMessage.contains(store) && e.getMessage.contains("replaying"),
      e.getMessage)
    intercept[IllegalArgumentException](StreamOps.maintainNearDupStore(spark, store))
    // nothing was published over the legacy store
    assert(!CommitLog.isLog(fs, new Path(store)))
  }

  test("a sidecar-less legacy MinHash store (root-level batch dirs) is " +
    "refused before adopt touches it") {
    val store = s"${tmp()}/sigs"
    Seq((1L, Seq(1L, 2L))).toDF("graft_id", "graft_sig")
      .write.parquet(s"$store/batch=0")
    val e = intercept[IllegalArgumentException] {
      StreamOps.applyNearDupBatch(Seq(Doc(2, "a b c")).toDF(), store, 1L)
    }
    assert(e.getMessage.contains(store) && e.getMessage.contains("replaying"),
      e.getMessage)
    assert(!CommitLog.isLog(fs, new Path(store)))
  }

  test("sibling files next to a plain store do not block its adoption") {
    val store = s"${tmp()}/t"
    Seq((1L, "a")).toDF("k", "v").write.parquet(store)
    Seq(".meta", ".bands", ".buckets").foreach(s =>
      Files.write(java.nio.file.Paths.get(store + s), "unrelated".getBytes("UTF-8")))
    Merge.into(spark, store, Seq((1L, "b"), (2L, "c")).toDF("k", "v"), Seq("k"))
    assert(CommitLog.read(spark, new Path(store)).get
      .select("k", "v").as[(Long, String)].collect().toMap == Map(1L -> "b", 2L -> "c"))
    assert(fs.exists(new Path(store + ".meta")), "an unrelated sibling was removed")
  }

  test("an adopted legacy exact-dedup store keeps its replay guard: the " +
    "newest batch dir stands in for the missing maxBatch") {
    val store = s"${tmp()}/exact"
    Seq((1L, "fp1")).toDF("graft_id", "graft_fp").write.parquet(s"$store/batch=-1")
    Seq((2L, "fp2")).toDF("graft_id", "graft_fp").write.parquet(s"$store/batch=3")
    Seq((3L, "fp3")).toDF("graft_id", "graft_fp").write.parquet(s"$store/batch=4")
    // a fold before the first new batch carries the meta forward without
    // a maxBatch; the guard must still see batch 4
    StreamOps.maintainExactDedupStore(spark, store)
    val root = new Path(store)
    assert(CommitLog.currentVersion(fs, root) == 2L)
    assert(!CommitLog.tipMeta(fs, root).contains("maxBatch"))
    assert(!CommitLog.tipMeta(fs, root).get("operation").contains("adopt"))
    val e = intercept[IllegalArgumentException] {
      StreamOps.applyExactDedupBatch(Seq(Doc(4, "x")).toDF(), store, 2L)
    }
    assert(e.getMessage.contains("batch 2 is older than the newest admitted batch 4"),
      e.getMessage)
    // the newest batch itself may replay; the next one admits
    StreamOps.applyExactDedupBatch(Seq(Doc(4, "x")).toDF(), store, 5L).unpersist()
    assert(CommitLog.tipMeta(fs, root).get("maxBatch").contains("5"))
  }

  test("a legacy hamming store's .meta sidecar seeds version 1's meta, so " +
    "layout drift is still refused after adoption") {
    val src = s"${tmp()}/src"
    val base = 0x0f0f0f0f0f0f0f0fL
    StreamOps.applyHammingNearDupBatch(Seq(FpRow(1, base)).toDF(), src, 0L).unpersist()
    StreamOps.applyHammingNearDupBatch(Seq(FpRow(2, ~base)).toDF(), src, 1L).unpersist()
    val chunks = CommitLog.tipMeta(fs, new Path(src))("chunks")
    val store = s"${tmp()}/legacy"
    val srcP = new Path(src)
    CommitLog.snapshotFiles(fs, srcP, CommitLog.currentVersion(fs, srcP)).foreach { f =>
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(srcP, f), fs, new Path(store, f),
        false, spark.sparkContext.hadoopConfiguration)
    }
    Files.write(java.nio.file.Paths.get(s"$store.meta"),
      s"chunks=$chunks\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      StreamOps.applyHammingNearDupBatch(Seq(FpRow(3, base)).toDF(), store, 2L,
        chunks = 4)
    }
    assert(e.getMessage.contains(s"chunks=$chunks"), e.getMessage)
    val root = new Path(store)
    assert(CommitLog.readManifest(fs, root, 1L).meta.get("chunks").contains(chunks))
    assert(!fs.exists(new Path(s"$store.meta")))
    // same layout: history from before adoption still rejects a dup
    val admitted = StreamOps.applyHammingNearDupBatch(
      Seq(FpRow(3, base), FpRow(4, 0x123456789L)).toDF(), store, 2L)
    assert(admitted.select("doc_id").as[Long].collect().toSeq == Seq(4L))
    admitted.unpersist()
  }

  test("a stream-maintained store is vacuumed on a fixed cadence: the " +
    "files on disk stay bounded however many batches fold") {
    val store = s"${tmp()}/agg"
    val root = new Path(store)
    def onDisk() = namesUnder(store).count(_.endsWith(".parquet"))
    val every = StreamOps.VacuumEvery
    val counts = (0 to 3 * every).map { b =>
      StreamOps.applyAggBatchOnce(Seq(("a", 1.0), ("b", 2.0)).toDF("k", "x"),
        store, Seq("k"), "x", b.toLong)
      if (b % every == 0 && b > 0) {
        // right after a vacuum only the tip and the version before it remain
        val tip = CommitLog.currentVersion(fs, root)
        val kept = (CommitLog.snapshotFiles(fs, root, tip) ++
          CommitLog.snapshotFiles(fs, root, tip - 1)).distinct.size
        assert(onDisk() == kept, s"batch $b: ${onDisk()} files on disk, $kept retained")
      }
      onDisk()
    }
    // between vacuums the store gains one cadence of versions at most, and
    // the peak is the same in every cadence: disk does not grow with K
    val perVersion = CommitLog.snapshotFiles(fs, root,
      CommitLog.currentVersion(fs, root)).size
    assert(counts.max <= (every + 1) * perVersion, counts)
    assert(counts(2 * every - 1) == counts(3 * every - 1), counts)
    assert(IncrementalAgg.readStore(spark, store).select("k", "n")
      .as[(String, Long)].collect().toMap == Map("a" -> (3L * every + 1), "b" -> (3L * every + 1)))
  }

  test("two dim upserts racing from the same version: one commits, the " +
    "other fails with ConflictException and mints no overlapping key") {
    val dim = s"${tmp()}/dim"
    val root = new Path(dim)
    DimUpsert.upsert(spark, dim, Seq((1L, "a")).toDF("k", "v"), "k")
    // both upserts pass this gate only once both have read the dim's
    // version, so each computes its keys from the same stale max
    val gate = org.apache.spark.sql.functions.udf { (k: Long) =>
      DimRaceGate.latch.countDown()
      DimRaceGate.latch.await(120, java.util.concurrent.TimeUnit.SECONDS)
      k
    }.asNondeterministic()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    def upsertTask(k: Long) =
      pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String =
          try {
            DimUpsert.upsert(spark, dim,
              Seq((k, "x")).toDF("k0", "v").select(gate($"k0").as("k"), $"v")
                .repartition(1), "k").count()
            "ok"
          } catch { case _: CommitLog.ConflictException => "conflict" }
      })
    val r2 = upsertTask(2L); val r3 = upsertTask(3L)
    val outcomes = Seq(r2, r3).map(_.get(180, java.util.concurrent.TimeUnit.SECONDS)).sorted
    pool.shutdown()
    assert(outcomes == Seq("conflict", "ok"))
    val rows = CommitLog.read(spark, root).get.select("k", "sk").as[(Long, Long)]
      .collect().sortBy(_._2).toSeq
    assert(rows.map(_._2) == Seq(1L, 2L), rows)
    assert(rows.head._1 == 1L && Set(2L, 3L).contains(rows(1)._1))
  }
}

/** Rendezvous for the racing dim upserts: the gate UDF runs in executor
  * threads of the local test session, so it reaches the latch statically. */
object DimRaceGate {
  val latch = new java.util.concurrent.CountDownLatch(2)
}
