package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.flow.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming sink parity: the A13 dispatcher's sink form (one directory
  * per key) and file-sink commit semantics, driven through a real
  * streaming query. */
class StreamSinkSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  private def aggRead(store: String) =
    graft.operators.IncrementalAgg.readStore(spark, store)

  private def lastBatch(store: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(store)
    graft.operators.CommitLog.lastMeta(
      graft.operators.Swap.fsOf(spark, p), p, "batchId").map(_.toLong)
  }

  /** The current snapshot of a log store copied to `dst` without its log
    * — the on-disk shape a pre-log writer left — plus, when given, the
    * in-store batch marker such a writer kept. */
  private def legacyCopy(src: String, dst: String, marker: Option[String]): Unit = {
    import graft.operators.{CommitLog, Swap}
    val p = new org.apache.hadoop.fs.Path(src)
    val fs = Swap.fsOf(spark, p)
    CommitLog.snapshotFiles(fs, p, CommitLog.currentVersion(fs, p)).foreach { f =>
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(p, f),
        fs, new org.apache.hadoop.fs.Path(dst, f), false,
        spark.sparkContext.hadoopConfiguration)
    }
    marker.foreach(m => Files.write(java.nio.file.Paths.get(dst,
      graft.operators.IncrementalAgg.BatchMarker), m.getBytes("UTF-8")))
  }

  test("streaming partitioned parquet sink fans out by key with exactly-once files") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_stream_sink").toString
    val mem = MemoryStream[Ev]
    val q = mem.toDF()
      .withColumn("day", to_date(col("ts")))
      .writeStream
      .partitionBy("user")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .format("parquet")
      .start(s"$dir/out")
    try {
      mem.addData(
        Ev(Timestamp.valueOf("2024-01-01 00:01:00"), "a", 1.0),
        Ev(Timestamp.valueOf("2024-01-01 00:02:00"), "b", 2.0))
      q.processAllAvailable()
      mem.addData(Ev(Timestamp.valueOf("2024-01-01 00:03:00"), "a", 3.0))
      q.processAllAvailable()
    } finally q.stop()

    assert(new java.io.File(s"$dir/out/user=a").exists())
    assert(new java.io.File(s"$dir/out/user=b").exists())
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == 3)
    assert(back.filter(col("user") === "a").count() == 2)
  }

  test("streaming SCD2 closes a changed key's version and opens a new one " +
    "across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_stream_scd2").toString
    val store = s"$dir/dim"
    val mem = MemoryStream[Ev]
    // version effectivity derived from batchId — deterministic on replay
    val q = StreamOps.scd2Stream(mem.toDF(), store, "user", s"$dir/ckpt")(
      b => b.groupBy("user").agg(max_by(col("value"), col("ts")).as("value")),
      id => f"2024-01-01 00:0$id%01d:00")
    try {
      mem.addData(Ev(Timestamp.valueOf("2024-01-01 00:00:10"), "a", 1.0),
        Ev(Timestamp.valueOf("2024-01-01 00:00:20"), "b", 5.0))
      q.processAllAvailable()
      // a changes value → close v1, open v2; b unchanged → no churn
      mem.addData(Ev(Timestamp.valueOf("2024-01-01 00:01:10"), "a", 2.0),
        Ev(Timestamp.valueOf("2024-01-01 00:01:20"), "b", 5.0))
      q.processAllAvailable()
    } finally q.stop()

    val hist = graft.operators.Scd2.read(spark, store)
    assert(hist.count() == 3) // a: closed v1 + open v2; b: one open version
    val aRows = hist.filter(col("user") === "a")
      .select("value", "is_current").collect()
      .map(r => (r.getDouble(0), r.getBoolean(1))).toSet
    assert(aRows == Set((1.0, false), (2.0, true)), aRows)
    assert(hist.filter(col("user") === "b").count() == 1)
  }

  test("streaming MERGE keeps one last-event-wins row per key in the store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_stream_merge").toString
    val mem = MemoryStream[Ev]
    val q = StreamOps.mergeStream(
      mem.toDF(), s"$dir/store", Seq("user"), s"$dir/ckpt") { batch =>
      // last event per user within the batch (deterministic: ts unique)
      batch.groupBy("user").agg(
        max_by(struct(col("ts"), col("value")), col("ts")).as("last"))
        .select(col("user"), col("last.ts").as("ts"), col("last.value").as("value"))
    }
    try {
      mem.addData(
        Ev(Timestamp.valueOf("2024-01-01 00:01:00"), "a", 1.0),
        Ev(Timestamp.valueOf("2024-01-01 00:02:00"), "a", 2.0), // later a
        Ev(Timestamp.valueOf("2024-01-01 00:03:00"), "b", 3.0))
      q.processAllAvailable()
      mem.addData(Ev(Timestamp.valueOf("2024-01-01 00:04:00"), "a", 4.0)) // update a
      q.processAllAvailable()
    } finally q.stop()

    val store = graft.operators.CommitLog.read(
      spark, new org.apache.hadoop.fs.Path(s"$dir/store")).get
      .select("user", "value").as[(String, Double)].collect().toMap
    assert(store == Map("a" -> 4.0, "b" -> 3.0)) // one row per key, latest wins
  }

  test("streaming dim upsert maintains the dim store and enriches each batch (A18)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_stream_dim").toString
    val mem = MemoryStream[Ev]
    val q = StreamOps.dimUpsertStream(
      mem.toDF(), s"$dir/dim", "user", s"$dir/ckpt") { (enriched, _) =>
      enriched.write.mode("append").parquet(s"$dir/facts")
    }
    try {
      mem.addData(
        Ev(Timestamp.valueOf("2024-01-01 00:01:00"), "a", 1.0),
        Ev(Timestamp.valueOf("2024-01-01 00:02:00"), "b", 2.0))
      q.processAllAvailable()
      mem.addData(
        Ev(Timestamp.valueOf("2024-01-01 00:03:00"), "a", 3.0), // known key
        Ev(Timestamp.valueOf("2024-01-01 00:04:00"), "c", 4.0)) // new key
      q.processAllAvailable()
    } finally q.stop()

    val dim = spark.read.parquet(s"$dir/dim")
    assert(dim.count() == 3) // a, b, c — no duplicates across batches
    assert(dim.select("sk").distinct().count() == 3)
    val facts = spark.read.parquet(s"$dir/facts")
    assert(facts.count() == 4) // every event came out enriched
    // 'a' rows from both batches carry the SAME surrogate key
    assert(facts.filter(col("user") === "a")
      .select("sk").distinct().count() == 1)
  }

  test("streaming incremental aggregation folds batches into the store " +
    "exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_stream_incr").toString
    val store = s"$dir/agg"
    val mem = MemoryStream[Ev]
    val q = StreamOps.incrementalAggStream(
      mem.toDF(), store, Seq("user"), "value", s"$dir/ckpt")
    try {
      mem.addData(
        Ev(Timestamp.valueOf("2024-01-01 00:01:00"), "a", 1.0),
        Ev(Timestamp.valueOf("2024-01-01 00:02:00"), "a", 3.0),
        Ev(Timestamp.valueOf("2024-01-01 00:03:00"), "b", 10.0))
      q.processAllAvailable()
      mem.addData(Ev(Timestamp.valueOf("2024-01-01 00:04:00"), "a", 5.0))
      q.processAllAvailable()
    } finally q.stop()

    val out = aggRead(store)
      .select("user", "n", "sum", "min", "max")
      .as[(String, Long, Double, Double, Double)].collect().toSet
    assert(out == Set(("a", 3L, 9.0, 1.0, 5.0), ("b", 1L, 10.0, 10.0, 10.0)))

    // replay guard: re-applying an already-recorded batchId is a no-op —
    // exactly the restart-replay case foreachBatch can deliver. The
    // mark is committed in the same manifest as the data (no
    // mark-behind-data crash window).
    val replay = Seq(Ev(Timestamp.valueOf("2024-01-01 00:04:00"), "a", 5.0)).toDF()
    val lastId = lastBatch(store).get
    assert(!StreamOps.applyAggBatchOnce(replay, store, Seq("user"), "value", lastId))
    assert(aggRead(store)
      .select("user", "n", "sum", "min", "max")
      .as[(String, Long, Double, Double, Double)].collect().toSet == out,
      "replayed batch must not double-count")
    // a genuinely new batch still applies
    assert(StreamOps.applyAggBatchOnce(replay, store, Seq("user"), "value", lastId + 1))
    assert(aggRead(store).filter(col("user") === "a")
      .select("n").as[Long].head() == 4L)
  }

  test("incremental agg marker failure modes fail loudly, never wedge or double-count") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_incr_marker").toString
    val batch = Seq(Ev(Timestamp.valueOf("2024-01-01 00:01:00"), "a", 1.0)).toDF()

    // a store built OUTSIDE the stream (no marker) has unknown replay
    // state — refuse rather than silently re-apply
    val bare = s"$dir/bare"
    graft.operators.IncrementalAgg.update(spark, bare, batch, Seq("user"), "value")
    val eNoMarker = intercept[IllegalStateException] {
      StreamOps.applyAggBatchOnce(batch, bare, Seq("user"), "value", 0L)
    }
    assert(eNoMarker.getMessage.contains("no batch marker"))

    // a truncated/empty marker in a pre-log store (the old
    // crash-mid-write artifact) raises a clear error on adoption instead
    // of NPE-wedging every subsequent batch
    val built = s"$dir/built"
    assert(StreamOps.applyAggBatchOnce(batch, built, Seq("user"), "value", 0L))
    val torn = s"$dir/torn"
    legacyCopy(built, torn, marker = Some(""))
    val eTorn = intercept[IllegalStateException] {
      StreamOps.applyAggBatchOnce(batch, torn, Seq("user"), "value", 1L)
    }
    assert(eTorn.getMessage.contains("unreadable batch marker"))

    // happy path: marker advances atomically with each applied fold
    val ok = s"$dir/ok"
    assert(StreamOps.applyAggBatchOnce(batch, ok, Seq("user"), "value", 0L))
    assert(StreamOps.applyAggBatchOnce(batch, ok, Seq("user"), "value", 1L))
    assert(!StreamOps.applyAggBatchOnce(batch, ok, Seq("user"), "value", 1L))
    assert(aggRead(ok).select("n").as[Long].head() == 2L)
  }

  test("a crash between the swap's two renames is rolled forward, not " +
    "silently rebuilt from one batch") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_incr_crash").toString
    val batch = Seq(Ev(Timestamp.valueOf("2024-01-01 00:01:00"), "a", 1.0)).toDF()

    // stage the exact on-disk state a crash between rename(store→.old) and
    // rename(.staging→store) of a pre-log writer leaves: no store dir, a
    // retired pre-batch store, and a COMPLETE staged store (data + marker
    // for batch 1)
    val store = s"$dir/agg"
    val after0 = s"$dir/after0"
    assert(StreamOps.applyAggBatchOnce(batch, after0, Seq("user"), "value", 0L))
    val after1 = s"$dir/after1"
    assert(StreamOps.applyAggBatchOnce(batch, after1, Seq("user"), "value", 0L))
    assert(StreamOps.applyAggBatchOnce(batch, after1, Seq("user"), "value", 1L))
    legacyCopy(after0, s"$store.old-t1", marker = Some("0"))
    legacyCopy(after1, s"$store.staging-t1", marker = Some("1"))

    // the foreachBatch replay of batch 1 completes the swap and is then
    // SKIPPED (the staged marker says 1 is applied) — exactly once
    assert(!StreamOps.applyAggBatchOnce(batch, store, Seq("user"), "value", 1L))
    assert(aggRead(store).select("n").as[Long].head() == 2L,
      "rolled-forward store must hold both applied batches")
    assert(!new java.io.File(s"$store.old-t1").exists())
    assert(!new java.io.File(s"$store.staging-t1").exists())
    // and the stream proceeds normally afterwards
    assert(StreamOps.applyAggBatchOnce(batch, store, Seq("user"), "value", 2L))
    assert(aggRead(store).select("n").as[Long].head() == 3L)

    // a retired dir WITHOUT a completable staging is unknown provenance:
    // fail loudly with the recovery path, never treat the store as fresh
    val lost = s"$dir/lost"
    legacyCopy(after0, s"$lost.old-t9", marker = Some("0"))
    val e = intercept[IllegalStateException] {
      StreamOps.applyAggBatchOnce(batch, lost, Seq("user"), "value", 1L)
    }
    assert(e.getMessage.contains(".old-"))
  }

  test("legacy sibling marker is honored as the high-water mark and " +
    "migrated into the store") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_incr_legacy").toString
    val batch = Seq(Ev(Timestamp.valueOf("2024-01-01 00:01:00"), "a", 1.0)).toDF()

    // a store maintained by a pre-log version: no in-store marker,
    // high-water mark in a sibling file storePath + "._graft_last_batch"
    val built = s"$dir/built"
    graft.operators.IncrementalAgg.update(spark, built, batch, Seq("user"), "value")
    val store = s"$dir/agg"
    legacyCopy(built, store, marker = None)
    val legacy = java.nio.file.Paths.get(
      store + "." + graft.operators.IncrementalAgg.BatchMarker)
    java.nio.file.Files.write(legacy, "5".getBytes("UTF-8"))

    // replays at or below the legacy mark are skipped, not re-applied
    assert(!StreamOps.applyAggBatchOnce(batch, store, Seq("user"), "value", 5L))
    assert(aggRead(store).select("n").as[Long].head() == 1L)
    // adoption migrated the mark into the log and removed the legacy file
    assert(!java.nio.file.Files.exists(legacy), "legacy marker left orphaned")
    assert(StreamOps.applyAggBatchOnce(batch, store, Seq("user"), "value", 6L))
    assert(lastBatch(store).contains(6L))
    assert(!StreamOps.applyAggBatchOnce(batch, store, Seq("user"), "value", 6L))
    assert(aggRead(store).select("n").as[Long].head() == 2L)
  }
}
