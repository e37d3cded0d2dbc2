package graft.streaming

import graft.operators.{CommitLog, Swap}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming layer — the reference IS a push-streaming library (bounded
  * buffers, completion, per-key dispatch, batch-then-flush; SURVEY.md §2.1
  * A13/A14, §2.2 "Streaming"). Spark-natively that surface is Structured
  * Streaming: micro-batch pull with watermark-bounded state instead of
  * bounded-capacity backpressure.
  *
  * Every transform here works identically on a batch DataFrame and a
  * streaming one (same logical operators) — mirroring how a reference
  * pipeline is agnostic to whether its source is finite.
  *
  * Scale notes: state stores (windows, dedup, mapGroupsWithState) are
  * partitioned by grouping key across executors; watermarks bound state
  * size — an unbounded-state streaming query is a leak at 100 TB/day, so
  * every stateful op here requires an explicit watermark or timeout.
  */
object StreamOps {

  /** A14 batching over event time: tumbling window aggregation. */
  def tumbling(df: DataFrame, tsCol: String, duration: String, keys: Column*)(
      aggs: Column*): DataFrame =
    df.groupBy(window(col(tsCol), duration) +: keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Sliding window: each event lands in windowDuration/slideDuration
    * overlapping windows. */
  def sliding(df: DataFrame, tsCol: String, windowDuration: String, slideDuration: String,
      keys: Column*)(aggs: Column*): DataFrame =
    df.groupBy(window(col(tsCol), windowDuration, slideDuration) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Session window: events within `gap` of each other merge into one
    * session (dynamic-length windows). */
  def session(df: DataFrame, tsCol: String, gap: String, keys: Column*)(
      aggs: Column*): DataFrame =
    df.groupBy(session_window(col(tsCol), gap) +: keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Watermarked source: rows older than maxDelay behind the max observed
    * event time are dropped from stateful operators downstream. */
  def watermarked(df: DataFrame, tsCol: String, maxDelay: String): DataFrame =
    df.withWatermark(tsCol, maxDelay)

  /** Stateful exact dedup over a key set, state bounded by the watermark
    * (north-star dedup in streaming form). */
  def dedupStream(df: DataFrame, tsCol: String, maxDelay: String, cols: String*): DataFrame =
    df.withWatermark(tsCol, maxDelay)
      .dropDuplicatesWithinWatermark(cols.head, cols.tail: _*)

  /** A13 DataDispatcher parity, streaming form: a lazily-created stateful
    * child per key. The reference creates one child flow per distinct key
    * and routes rows to it; here each key owns a `GroupState[S]` evolved by
    * `child` on every micro-batch — distributed, fault-tolerant via
    * checkpoint, no driver-side key table.
    *
    * `timeout` is deliberately REQUIRED (no NoTimeout default): on an
    * unbounded key space, per-key state without a timeout is a leak.
    * Passing `GroupStateTimeout.NoTimeout()` is allowed but must be a
    * conscious choice (bounded key space, or batch use where state dies
    * with the job).
    */
  def dispatchStateful[K: Encoder, V, S: Encoder, O: Encoder](
      ds: Dataset[V], key: V => K, timeout: GroupStateTimeout)(
      child: (K, Iterator[V], GroupState[S]) => Iterator[O]): Dataset[O] =
    ds.groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append(), timeout)(child)

  /** Stream-stream equi-join bounded by event time: each left row joins
    * right rows of the same key within ±`within` of its timestamp. Both
    * sides carry watermarks so the join state is GC'd once the bound
    * passes — the unbounded-state trap is unrepresentable through this
    * API. Works identically on batch frames (watermark is a no-op).
    */
  def streamStreamJoin(
      left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      within: String, maxDelay: String): DataFrame = {
    // the join keeps both sides' columns (only the dup key is dropped) —
    // shared names would make every downstream by-name access ambiguous
    val collisions =
      (left.columns.toSet intersect right.columns.toSet) - key
    require(collisions.isEmpty,
      s"rename non-key columns shared by both sides before joining: $collisions")
    val l = left.withWatermark(leftTs, maxDelay)
    val r = right.withWatermark(rightTs, maxDelay)
    l.join(
        r,
        l(key) === r(key) &&
          r(rightTs) >= l(leftTs) - expr(s"INTERVAL $within") &&
          r(rightTs) <= l(leftTs) + expr(s"INTERVAL $within"))
      .drop(r(key))
  }

  /** A13 parity on the arbitrary-state v2 API (`transformWithState`,
    * Spark 4): a typed StatefulProcessor per key with named state
    * variables and TTL support — the forward path for per-key child
    * pipelines; `dispatchStateful` (flatMapGroupsWithState) remains the
    * stable one. */
  def dispatchStatefulV2[K: Encoder, V, O: Encoder](
      ds: Dataset[V], key: V => K,
      processor: org.apache.spark.sql.streaming.StatefulProcessor[K, V, O],
      timeMode: org.apache.spark.sql.streaming.TimeMode =
        org.apache.spark.sql.streaming.TimeMode.None(),
      outputMode: OutputMode = OutputMode.Append()): Dataset[O] =
    ds.groupByKey(key).transformWithState(processor, timeMode, outputMode)

  /** Streaming CUSUM drift monitor ([[graft.operators.Changepoint]] in
    * stateful-stream form): per key, fold Page's recursion
    * S ← max(0, S + (x − μ − slack)) across micro-batches and EMIT only
    * alarm rows (key, ts, statistic) where S crosses `threshold` — the
    * alert stream a monitoring sink subscribes to. μ rides on each input
    * row (caller joins its trained reference table; a stream cannot use
    * its own mean), which is exactly the production shape: monitor live
    * traffic against a frozen baseline.
    *
    * Ordering: rows are folded in `ts` order WITHIN a micro-batch;
    * cross-batch order is arrival order (use a watermarked, in-order
    * source per key, the standard monitoring contract). State per key is
    * ONE double; `timeout` is required for the same leak reason as
    * [[dispatchStateful]].
    *
    * Input tuples: (key, ts, value, mu). */
  def cusumStream[K: Encoder](
      ds: Dataset[(K, Long, Double, Double)],
      slack: Double,
      threshold: Double,
      timeout: GroupStateTimeout): Dataset[(K, Long, Double)] = {
    implicit val outEnc: Encoder[(K, Long, Double)] =
      Encoders.tuple(implicitly[Encoder[K]],
        Encoders.scalaLong, Encoders.scalaDouble)
    implicit val stateEnc: Encoder[Double] = Encoders.scalaDouble
    dispatchStateful[K, (K, Long, Double, Double), Double, (K, Long, Double)](
      ds, _._1, timeout) { (key, rows, state) =>
      var s = state.getOption.getOrElse(0.0)
      val alarms = rows.toArray.sortBy(_._2).flatMap { case (_, ts, x, mu) =>
        s = math.max(0.0, s + (x - mu - slack))
        if (s > threshold) Some((key, ts, s)) else None
      }
      state.update(s)
      alarms.iterator
    }
  }

  /** Streaming whole-document sequence packing — the DELIVERY side of
    * the training-data story ([[graft.operators.SeqPack.packBestFit]] in
    * cross-batch form): pack docs into fixed-context training sequences
    * AS THEY INGEST, instead of re-running a batch packer over the
    * accumulated corpus per delivery. Each shard's open (partially
    * filled) bins ride as keyed streaming state across micro-batches —
    * a doc arriving in batch 7 tops up a bin opened in batch 2 — through
    * the SAME best-fit core as the batch operator (identical sort and
    * tie-break discipline; within a batch the packing is BFD, across
    * batches it is best-fit against the carried bins, the unavoidable
    * online relaxation).
    *
    * State is BOUNDED by construction: ≤ `maxOpenBins` open bins per
    * shard (when exceeded, the FULLEST bins — smallest remaining, the
    * ones least likely to ever fit another doc — are closed permanently,
    * deterministically), shards are finite, so `timeout` defaults to
    * NoTimeout as a conscious bounded-state choice (the
    * [[dispatchStateful]] contract); pass a timeout to also expire idle
    * shards. Exactly-once and replay-idempotent via the streaming
    * checkpoint: flatMapGroupsWithState versions its state per batch, so
    * a replayed micro-batch re-reads the PRE-batch state and re-emits
    * identical placements (SeqPackStreamSpec pins restart continuation).
    *
    * Returns the streaming Dataset of placements; the caller attaches
    * its sink (writeStream + checkpointLocation). */
  def seqPackStream(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      ctxTokens: Int = 2048,
      shards: Int = 8,
      maxOpenBins: Int = 1024,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout())
      : Dataset[graft.operators.SeqPack.Packed] = {
    require(ctxTokens > 0 && shards > 0 && maxOpenBins > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.operators.SeqPack
    val prepared = docs
      .select(
        col(idCol).cast("long"),
        graft.functions.TextFunctions.tokenCount(col(textCol)))
      .as[(Long, Long)]
    dispatchStateful[Int, (Long, Long), SeqPack.BinState, SeqPack.Packed](
      prepared,
      t => (((t._1 % shards) + shards) % shards).toInt, // pmod, as batch
      timeout) { (shard, rows, state) =>
      val st = state.getOption.getOrElse(SeqPack.BinState.empty)
      val (placed, ns) = SeqPack.packGroup(shard, rows.toArray, ctxTokens, st)
      val bounded =
        if (ns.open.size <= maxOpenBins) ns
        // close the fullest bins (smallest remaining; binId tie-break)
        else ns.copy(open = ns.open.sorted.drop(ns.open.size - maxOpenBins))
      state.update(bounded)
      placed.iterator
    }
  }

  /** A18 streaming form: maintain a dimension store from a stream via
    * `foreachBatch` — each micro-batch runs one DimUpsert cycle (new keys
    * minted with surrogate keys, facts enriched) and hands the enriched
    * batch to `sink`. Exactly the reference's live DbDataJoiner loop:
    * stream in, dim table grows monotonically, facts come out keyed.
    *
    * foreachBatch gives at-least-once batch delivery on restart; the
    * upsert is idempotent on keys (re-minting never duplicates dim rows),
    * so the dim store converges — the sink must tolerate replayed facts
    * (or write idempotently by batchId). */
  def dimUpsertStream(
      facts: DataFrame,
      dimPath: String,
      keyCol: String,
      checkpoint: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val enriched = graft.operators.DimUpsert.upsert(
          batch.sparkSession, dimPath, batch, keyCol)
        sink(enriched, batchId)
        vacuumOnCadence(batch.sparkSession, dimPath, batchId)
      }
      .start()

  /** Stream-static enrichment against a commit-log dimension store that
    * ANOTHER writer maintains concurrently: each micro-batch pins the
    * store's tip version ONCE, reads that snapshot, and broadcast-joins
    * the batch against it — so a dim commit landing mid-batch can never
    * tear a batch (every row of the batch joins the same version; the
    * snapshot's files survive concurrent logical deletes until vacuum's
    * retention window). The next batch naturally picks up the new tip —
    * a freshness lag of at most one trigger, which is the streaming
    * analogue of snapshot isolation.
    *
    * Plan per batch: manifest read (one metadata file) → broadcast when
    * the dim is under the measured size gate, else hash join — at 100 TB
    * of FACTS the dim is the small side by construction; a dim too big
    * to broadcast still joins with the corpus-side shuffle bounded to
    * the batch, never history. Output adds `graft_dim_version` so sinks
    * can audit exactly which dim state enriched each row.
    *
    * `joinType` left: facts with no dim match pass through null-extended
    * (the lookup-join default) rather than silently dropping. */
  def enrichStream(
      facts: DataFrame,
      dimPath: String,
      keyCols: Seq[String],
      checkpoint: String,
      joinType: String = "left")(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val store = new org.apache.hadoop.fs.Path(dimPath)
        val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val v = graft.operators.CommitLog.currentVersion(fs, store)
        val enriched = graft.operators.CommitLog.read(spark, store, Some(v)) match {
          case Some(dim) =>
            batch.join(
              graft.operators.Joins.broadcastIfSmall(dim), keyCols, joinType)
          case None => // dim not yet populated: null-extend nothing to join
            batch
        }
        sink(enriched.withColumn("graft_dim_version", lit(v)), batchId)
      }
      .start()

  /** Streaming MERGE: foreachBatch-driven upsert of each micro-batch
    * into the parquet store at `targetPath` (matched keys update,
    * unmatched insert — see graft.operators.Merge). Batches must carry
    * at most one row per key: pre-aggregate in `prepare` (e.g.
    * last-event-wins via max_by) — the hook receives each raw batch and
    * returns the frame to merge. Restart-safe: replaying a batch merges
    * the same rows to the same keys (idempotent store state). */
  def mergeStream(
      facts: DataFrame,
      targetPath: String,
      keyCols: Seq[String],
      checkpoint: String)(
      prepare: DataFrame => DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prepared = prepare(batch)
        if (!prepared.isEmpty) {
          graft.operators.Merge.into(batch.sparkSession, targetPath, prepared, keyCols)
          ()
        }
        vacuumOnCadence(batch.sparkSession, targetPath, batchId)
      }
      .start()

  /** Streaming APPEND into a commit-log table, exactly-once — the
    * commonest ingest shape (event streams into a fact table), which
    * [[mergeStream]] cannot give cheaply (MERGE pays a key join per
    * batch; appends have no key). Appends are NOT idempotent, so
    * exactly-once comes from the commit itself: the batch's files and
    * the batchId high-water mark publish in ONE manifest CAS, and a
    * replayed batch (crash after commit, before the checkpoint advanced)
    * sees `batchId <= last` and skips. The mark is found by a bounded
    * manifest walk ([[graft.operators.CommitLog.lastMeta]]), so
    * maintenance commits (OPTIMIZE, DELETE) landing after the last
    * append cannot hide it.
    *
    * Commits are BLIND APPENDS: add-only manifests that never conflict
    * with one another (Delta's rule), so N independent streams can
    * append to one table concurrently with no lock and no spurious
    * retries — while a whole-table writer (fold, OPTIMIZE) still
    * conflicts with them normally and re-runs.
    */
  def appendStream(
      facts: DataFrame,
      targetPath: String,
      checkpoint: String,
      partitionCols: Seq[String] = Nil)(
      prepare: DataFrame => DataFrame = identity):
      org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatchOnce(batch, targetPath, batchId, partitionCols, prepare)
        ()
      }
      .start()

  /** One exactly-once append step (see [[appendStream]]); returns false
    * when the batch was already applied (replay) or empty. */
  def appendBatchOnce(
      batch: DataFrame,
      targetPath: String,
      batchId: Long,
      partitionCols: Seq[String] = Nil,
      prepare: DataFrame => DataFrame = identity): Boolean = {
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(targetPath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the append sink is log-native: a fresh path becomes a log store
    // (exactly-once NEEDS the atomic manifest); a store written before
    // the log has no append high-water mark and is refused
    require(graft.operators.CommitLog.isLog(fs, store) || !fs.exists(store),
      s"append sink needs a commit-log store; $targetPath exists without _log/")
    val last = graft.operators.CommitLog.lastMeta(fs, store, "appendBatchId")
      .map(_.toLong).getOrElse(-1L)
    if (batchId <= last) return false
    val rows = prepare(batch)
    if (rows.isEmpty) return false
    val tip = graft.operators.CommitLog.currentVersion(fs, store)
    val staging = graft.operators.Swap.Suffix.staging(
      store, graft.operators.Swap.newTag())
    val w = rows.write
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .parquet(staging.toString)
    graft.operators.CommitLog.commitStaged(
      spark, store, staging, tip, Nil, wholeStore = false,
      meta = Map("appendBatchId" -> batchId.toString, "operation" -> "append"),
      schema = Some(rows.schema),
      blindAppend = true)
    true
  }

  /** Continuously-maintained BM25 index: each micro-batch of documents
    * appends into a log-backed [[graft.operators.Bm25Index]] — the
    * retrieval-side twin of the dedup admission stores. The first batch
    * BOOTSTRAPS the index (build ≡ append for BM25, so the split is
    * immaterial); every later batch rides
    * [[graft.operators.Bm25Index.append]]: delta-only tokenize, one
    * atomic manifest for postings+doclen+stats, queryable at any pinned
    * version while the stream runs.
    *
    * Exactly-once under foreachBatch's at-least-once delivery: the
    * batchId high-water mark rides the manifest meta (the same
    * `lastMeta` guard as [[appendBatchOnce]]), so a replayed batch is
    * skipped BEFORE the duplicate-doc-id refusal in append would fire.
    * Docs that genuinely recur across DIFFERENT batches are refused by
    * that append guard — dedup upstream (e.g. [[dedupStream]]) when the
    * source can repeat documents. */
  def bm25IndexStream(
      docs: DataFrame,
      indexPath: String,
      checkpoint: String,
      idCol: String,
      textCol: String,
      buckets: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBm25BatchOnce(batch, indexPath, batchId, idCol, textCol, buckets)
        ()
      }
      .start()

  /** One exactly-once BM25 index maintenance step (see
    * [[bm25IndexStream]]); returns false when the batch was already
    * applied (replay) or empty. */
  def applyBm25BatchOnce(
      batch: DataFrame,
      indexPath: String,
      batchId: Long,
      idCol: String,
      textCol: String,
      buckets: Int = 64): Boolean = {
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(indexPath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tag = Map("bm25BatchId" -> batchId.toString)
    if (!graft.operators.CommitLog.isLog(fs, store)) {
      require(!fs.exists(store),
        s"$indexPath exists without a commit log — the streaming BM25 sink " +
          "is log-native (exactly-once needs the atomic manifest); an index " +
          "built before the commit log cannot take appends")
      if (batch.isEmpty) return false
      graft.operators.Bm25Index.buildAndSave(
        batch, indexPath, idCol, textCol, buckets, meta = tag)
      return true
    }
    val last = graft.operators.CommitLog.lastMeta(fs, store, "bm25BatchId")
      .map(_.toLong).getOrElse(-1L)
    if (batchId <= last) return false
    if (batch.isEmpty) return false
    graft.operators.Bm25Index.append(spark, indexPath, batch, meta = tag)
    true
  }

  /** Streaming write-audit-publish: every micro-batch is staged, audited
    * against the expectations suite, and either published atomically or
    * QUARANTINED — the admission firewall between an unreliable feed and
    * a trusted table. Refused batches land in full (plus their per-check
    * audit report) under `quarantine/batch=<id>/`, so nothing is ever
    * dropped silently and a fixed upstream can replay the quarantine.
    *
    * Exactly-once: accepted batches carry a wapBatchId high-water mark
    * in their commit meta (replays skip); refused batches publish no
    * commit, and their replay re-audits deterministically and
    * OVERWRITES the same quarantine directory — idempotent either
    * way. */
  def wapStream(
      batches: DataFrame,
      storePath: String,
      checkpoint: String,
      checks: Seq[graft.operators.Expectations.Expectation],
      quarantinePath: String,
      auditWholeTable: Boolean = true): org.apache.spark.sql.streaming.StreamingQuery =
    batches.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyWapBatchOnce(batch, storePath, batchId, checks,
          quarantinePath, auditWholeTable)
        ()
      }
      .start()

  /** One exactly-once audited-append step (see [[wapStream]]); returns
    * true when the batch PUBLISHED, false when skipped (replay/empty)
    * or quarantined. */
  def applyWapBatchOnce(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      checks: Seq[graft.operators.Expectations.Expectation],
      quarantinePath: String,
      auditWholeTable: Boolean = true): Boolean = {
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.operators.CommitLog.isLog(fs, store)) {
      val last = graft.operators.CommitLog.lastMeta(fs, store, "wapBatchId")
        .map(_.toLong).getOrElse(-1L)
      if (batchId <= last) return false
    }
    if (batch.isEmpty) return false
    val res = graft.operators.Wap.appendAudited(
      spark, storePath, batch, checks, auditWholeTable,
      meta = Map("wapBatchId" -> batchId.toString))
    if (!res.published) {
      val dir = s"$quarantinePath/batch=$batchId"
      batch.write.mode("overwrite").parquet(s"$dir/data")
      import spark.implicits._
      res.report
        .map(r => (r.getString(0), r.getString(1),
          if (r.isNullAt(2)) Double.NaN else r.getDouble(2), r.getBoolean(3)))
        .toDF("check_name", "column_name", "metric", "passed")
        .write.mode("overwrite").parquet(s"$dir/report")
    }
    res.published
  }

  /** Streaming CDC replication: micro-batches of change events (op +
    * sequence per key) keep a log-backed replica current — the
    * `apply_changes` sink. Each trigger resolves its batch per key
    * (highest sequence wins) and lands upserts AND deletes in ONE
    * atomic commit ([[graft.operators.Cdc.applyChangesAtomic]]), so
    * there is no half-applied crash window for the replay logic to
    * reason about: the batchId high-water mark in that single commit's
    * meta is the whole exactly-once story. Cross-batch ordering is the
    * stream's (foreachBatch is ordered); within a batch the sequence
    * column resolves. */
  def cdcStream(
      changes: DataFrame,
      replicaPath: String,
      checkpoint: String,
      keyCols: Seq[String],
      seqCol: String,
      opCol: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCdcBatchOnce(batch, replicaPath, batchId, keyCols, seqCol, opCol)
        ()
      }
      .start()

  /** One exactly-once CDC apply step (see [[cdcStream]]); returns false
    * when the batch was already applied (replay) or empty. */
  def applyCdcBatchOnce(
      batch: DataFrame,
      replicaPath: String,
      batchId: Long,
      keyCols: Seq[String],
      seqCol: String,
      opCol: String): Boolean = {
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(replicaPath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.operators.CommitLog.isLog(fs, store)) {
      val last = graft.operators.CommitLog.lastMeta(fs, store, "cdcBatchId")
        .map(_.toLong).getOrElse(-1L)
      if (batchId <= last) return false
    } else require(!fs.exists(store),
      s"$replicaPath exists without a commit log — the CDC sink is " +
        "log-native (exactly-once needs the atomic manifest)")
    if (batch.isEmpty) return false
    graft.operators.Cdc.applyChangesAtomic(
      spark, replicaPath, batch, keyCols, seqCol, opCol,
      meta = Map("cdcBatchId" -> batchId.toString))
    true
  }

  /** Streaming incremental-join maintenance: micro-batches of LEFT-side
    * rows land in the log-backed left source table and the materialized
    * `left ⋈ right` view (graft.operators.IncrementalJoin) refreshes to
    * the new tips — the streaming face of delta view maintenance: each
    * trigger pays batch ⋈ right, never a recompute. The right side is
    * any log table; appends to it between triggers are picked up by the
    * same refresh (the view records exact source versions).
    *
    * Exactly-once: the batchId high-water mark rides the LEFT source's
    * manifest meta, so a foreachBatch replay skips the duplicate append;
    * the refresh itself is idempotent BY CONSTRUCTION (it compares
    * recorded source versions to tips and publishes nothing when
    * current), so it runs unconditionally — which also heals the
    * crash-between-append-and-refresh window: the replayed batch skips
    * its append and the refresh catches the view up. */
  def incrementalJoinStream(
      leftRows: DataFrame,
      leftStore: String,
      rightStore: String,
      viewStore: String,
      leftKey: String,
      rightKey: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    leftRows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyJoinBatchOnce(batch, leftStore, rightStore, viewStore,
          leftKey, rightKey, batchId)
        ()
      }
      .start()

  /** One exactly-once incremental-join maintenance step (see
    * [[incrementalJoinStream]]); returns false when the batch append
    * was a replay or empty (the view refresh still runs). */
  def applyJoinBatchOnce(
      batch: DataFrame,
      leftStore: String,
      rightStore: String,
      viewStore: String,
      leftKey: String,
      rightKey: String,
      batchId: Long): Boolean = {
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(leftStore)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val last =
      if (graft.operators.CommitLog.isLog(fs, store))
        graft.operators.CommitLog.lastMeta(fs, store, "ijBatchId")
          .map(_.toLong).getOrElse(-1L)
      else -1L
    val appended =
      if (batchId <= last || batch.isEmpty) false
      else {
        graft.operators.IncrementalJoin.appendTable(spark, leftStore, batch,
          meta = Map("ijBatchId" -> batchId.toString))
        true
      }
    graft.operators.IncrementalJoin.refresh(
      spark, leftStore, rightStore, viewStore, leftKey, rightKey)
    appended
  }

  /** Streaming SCD2: apply each micro-batch as a dimension delta to the
    * type-2 history store (changed keys close their current version and
    * open a new one — see graft.operators.Scd2). `batchTs` maps the
    * batchId to the version-effectivity timestamp — it must be
    * DETERMINISTIC (derive from batchId or the batch's own event time,
    * never now()): replaying a batch with the same timestamp is
    * idempotent (unchanged attributes produce no version churn), which is
    * what makes this exactly-once under foreachBatch's at-least-once
    * delivery. `prepare` pre-aggregates to one row per key (same contract
    * as [[mergeStream]]). */
  def scd2Stream(
      facts: DataFrame,
      storePath: String,
      keyCol: String,
      checkpoint: String,
      maintainEvery: Int = 32)(
      prepare: DataFrame => DataFrame,
      batchTs: Long => String): org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prepared = prepare(batch)
        if (!prepared.isEmpty) {
          graft.operators.Scd2.apply(
            batch.sparkSession, storePath, prepared, keyCol, batchTs(batchId))
          ()
        }
        // periodic small-file compaction of the hot slice dirs each
        // trickle batch rewrites; crash-safe, content-preserving
        if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0) {
          graft.operators.Scd2.maintain(batch.sparkSession, storePath)
          ()
        }
      }
      .start()

  /** Streaming incremental aggregation: fold each micro-batch's partial
    * aggregates into the parquet store (see
    * graft.operators.IncrementalAgg) — the streaming materialized-view
    * refresh. Unlike MERGE/dim-upsert, the fold is NOT idempotent (a
    * replayed batch would double-count), so the last applied batchId is
    * committed in the same manifest that commits the data, and replays
    * are skipped — exactly-once store state under
    * foreachBatch's at-least-once delivery. */
  def incrementalAggStream(
      facts: DataFrame,
      storePath: String,
      keyCols: Seq[String],
      valueCol: String,
      checkpoint: String,
      distinctCol: Option[String] = None,
      buckets: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyAggBatchOnce(batch, storePath, keyCols, valueCol, batchId,
          distinctCol, buckets)
        ()
      }
      .start()

  /** The guarded fold behind [[incrementalAggStream]]: applies the batch
    * only when `batchId` is beyond the store's recorded high-water mark.
    *
    * Exactly-once protocol: the mark rides the manifest meta of the fold
    * it describes — one CAS commits both, so no crash point leaves an
    * applied fold with a stale mark (which would double-count on replay)
    * or vice versa — and update() itself skips replays anchored at the
    * fold's own read version (a racing fold conflicts at the CAS, so
    * check-and-fold is atomic without a lock). A store that holds data
    * but never recorded a mark was not maintained by the stream: which
    * batches it holds is unknown, so it is refused rather than
    * re-applied.
    *
    * @return true when the batch was applied, false when skipped as a
    *         replay. */
  def applyAggBatchOnce(
      batch: DataFrame,
      storePath: String,
      keyCols: Seq[String],
      valueCol: String,
      batchId: Long,
      distinctCol: Option[String] = None,
      buckets: Option[Int] = None): Boolean = {
    import graft.operators.CommitLog
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitLog.adopt(spark, store)
    val last = CommitLog.lastMeta(fs, store, "batchId").map(_.toLong)
    if (last.isEmpty && CommitLog.nonEmpty(fs, store))
      throw new IllegalStateException(
        s"store $storePath exists but has no batch marker — it was not " +
          "maintained by incrementalAggStream, so replay safety is unknown; " +
          "start from a fresh store path")
    if (batchId <= last.getOrElse(-1L)) return false
    graft.operators.IncrementalAgg.update(
      spark, storePath, batch, keyCols, valueCol, batchId = Some(batchId),
      distinctCol = distinctCol, buckets = buckets)
    vacuumOnCadence(spark, storePath, batchId)
    true
  }

  /** Micro-batches between vacuums of a store that a stream rewrites in
    * place (the merge, dim-upsert and incremental-agg streams; SCD2 and
    * the admission stores vacuum in their maintenance pass). Every commit
    * retires the files it replaces, and on a log store they stay on disk
    * until a vacuum — a flat incremental-agg fold would otherwise add a
    * full copy of the store per trigger, forever. Vacuum keeps its
    * default retention (the tip and the version before it), so a reader
    * pinned one version back is unaffected. */
  private[graft] val VacuumEvery = 8

  private def vacuumOnCadence(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      batchId: Long): Unit =
    if (batchId > 0 && batchId % VacuumEvery == 0) {
      graft.operators.CommitLog.vacuum(spark, new org.apache.hadoop.fs.Path(storePath))
      ()
    }

  /** Running per-key event counters (A19 StatisticsRecorder, streaming
    * form): emits (key, cumulative count) on every update.
    *
    * `timeout` is REQUIRED (see [[dispatchStateful]]): on an unbounded
    * key space a counter per key without expiry is a state leak. With
    * `ProcessingTimeTimeout`, pass `idleTtl` (e.g. "1 hour") — a key idle
    * that long is dropped and restarts from zero if seen again. With
    * `NoTimeout` (bounded key spaces / batch runs), `idleTtl` must be
    * None. */
  def runningCounts[K: Encoder, V](
      ds: Dataset[V], key: V => K,
      timeout: GroupStateTimeout,
      idleTtl: Option[String] = None)(implicit
      outEnc: Encoder[(K, Long)]): Dataset[(K, Long)] = {
    // EventTimeTimeout would need a watermark-derived timeout TIMESTAMP
    // (setTimeoutTimestamp), which this counter does not plumb — accepting
    // it would silently never expire state, the exact leak this parameter
    // exists to prevent.
    require(timeout != GroupStateTimeout.EventTimeTimeout(),
      "runningCounts supports ProcessingTimeTimeout (with idleTtl) or NoTimeout; " +
        "EventTimeTimeout is not supported")
    require(idleTtl.isDefined == (timeout == GroupStateTimeout.ProcessingTimeTimeout()),
      "idleTtl must be set exactly when timeout is ProcessingTimeTimeout")
    implicit val longEnc: Encoder[Long] = org.apache.spark.sql.Encoders.scalaLong
    ds.groupByKey(key).flatMapGroupsWithState[Long, (K, Long)](
      OutputMode.Update(), timeout) {
      (k: K, rows: Iterator[V], state: GroupState[Long]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val next = state.getOption.getOrElse(0L) + rows.size
          state.update(next)
          idleTtl.foreach(state.setTimeoutDuration)
          Iterator((k, next))
        }
    }
  }

  /** Streaming cross-corpus dedup-against (VERDICT r14 item 7): gate an
    * INCREMENTAL document feed against a FROZEN reference corpus — "drop
    * anything in the new crawl that near-dups last month's corpus". The
    * reference's capped LSH bands are fingerprinted once up front
    * ([[graft.operators.Dedup.freezeReference]]) and reused by every
    * micro-batch; each trigger runs band-join + exact 3-gram-Jaccard
    * verify against only the candidate reference docs
    * ([[graft.operators.Dedup.dedupAgainstFrozen]]) and hands the
    * admitted rows to `sink`. Per-doc decisions depend only on
    * (doc, reference), so batches decompose exactly — the union of
    * per-batch admissions equals the batch [[graft.operators.Dedup.dedupAgainst]]
    * on the union (StreamingDedupAgainstSpec) — and the ONLY cross-batch
    * state is the fixed-size frozen band cache (no growth with the
    * stream; unlike [[nearDupStream]] there is nothing to admit into).
    *
    * Returns (query, release): call `release()` after stopping the query
    * to drop the frozen cache — the near-dup family's Releasable
    * discipline (PpjoinReleaseSpec class). */
  def dedupAgainstStream(
      docs: DataFrame,
      reference: DataFrame,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      threshold: Double = 0.5,
      numHashes: Int = 128,
      bands: Int = 64,
      maxBucket: Int = 1000)(
      sink: (DataFrame, Long) => Unit)
      : (org.apache.spark.sql.streaming.StreamingQuery, () => Unit) = {
    val frozen = graft.operators.Dedup.freezeReference(
      reference, idCol, textCol, shingleN, numHashes, bands,
      seed = 42L, maxBucket = maxBucket)
    val q = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = graft.operators.Dedup.dedupAgainstFrozen(
          batch, frozen, threshold)
        // admitted is persisted+materialized by the core; the sink reads
        // it, then it must not outlive the trigger (nearDupStream shape)
        try sink(admitted, batchId)
        finally admitted.unpersist()
      }
      .start()
    (q, frozen.release)
  }

  /** Streaming directional-containment gate (completes the streaming
    * near-dup family: [[dedupAgainstStream]] = symmetric Jaccard,
    * [[decontaminateStream]] = n-gram overlap, this = containment): drop
    * any incoming doc MOSTLY CONTAINED (|A∩B|/|A| ≥ threshold) in a
    * FROZEN reference corpus — quotation/excerpt leakage the symmetric
    * axis misses (a short probe inside a long reference doc has Jaccard
    * ≈ |A|/|B| → 0). The reference's doc-packed sorted shingle arrays
    * and document frequencies are fingerprinted once
    * ([[graft.operators.Dedup.freezeContainmentReference]]); each
    * trigger runs the exact asymmetric prefix filter + merge-walk verify
    * against only candidate reference docs
    * ([[graft.operators.Dedup.containmentAgainstFrozen]]). Per-doc
    * decisions depend only on (doc, reference) → EXACT cross-batch
    * decomposition with no cap caveat (ContainmentStreamSpec); the only
    * state is the fixed reference-sized cache pair. Returns
    * (query, release) — the Releasable discipline. */
  def containmentAgainstStream(
      docs: DataFrame,
      reference: DataFrame,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxTokenDf: Long = 100000L)(
      sink: (DataFrame, Long) => Unit)
      : (org.apache.spark.sql.streaming.StreamingQuery, () => Unit) = {
    val frozen = graft.operators.Dedup.freezeContainmentReference(
      reference, idCol, textCol, shingleN, maxTokenDf)
    val q = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = graft.operators.Dedup.containmentAgainstFrozen(
          batch, frozen, threshold)
        // persisted+materialized by the core; must not outlive the
        // trigger (the dedupAgainstStream shape)
        try sink(admitted, batchId)
        finally admitted.unpersist()
      }
      .start()
    (q, frozen.release)
  }

  /** Streaming benchmark decontamination (the [[dedupAgainstStream]]
    * sibling for test-set leakage): gate an incremental document feed
    * against a FROZEN evaluation/benchmark set — any doc sharing ≥1
    * word n-gram with the benchmark is dropped before it can reach a
    * training corpus. The benchmark's distinct n-gram hashes are
    * computed once ([[graft.operators.Decontaminate.freezeBenchmark]])
    * and broadcast into every micro-batch's semi-join. Per-doc
    * decisions depend only on (doc, benchmark) → exact cross-batch
    * decomposition (DecontaminateStreamSpec); the only state is the
    * fixed benchmark-sized hash cache. Returns (query, release). */
  def decontaminateStream(
      docs: DataFrame,
      benchmark: DataFrame,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchTextCol: String = "text",
      n: Int = 13)(
      sink: (DataFrame, Long) => Unit)
      : (org.apache.spark.sql.streaming.StreamingQuery, () => Unit) = {
    val frozen = graft.operators.Decontaminate.freezeBenchmark(
      benchmark, benchTextCol, n)
    val q = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(graft.operators.Decontaminate.cleanAgainstFrozen(
          batch, idCol, textCol, frozen), batchId)
      }
      .start()
    (q, frozen.release)
  }

  /** Per-micro-batch distribution drift against PINNED baselines — the
    * streaming form of [[graft.operators.Drift]]: score every trigger's
    * rows against the distribution the curation thresholds (or the
    * model, or the IVF centroids) were built on, and alert the moment
    * ingest moves. Baselines are captured ONCE before the stream starts
    * (`Drift.psiBaseline` / `Drift.catBaseline` — driver-resident
    * histograms), so the per-trigger cost is one tiny aggregate over the
    * BATCH per monitored column; the baseline table is never re-scanned,
    * the same never-O(history)-per-trigger economics as the dedup
    * stores' band/bucket tables.
    *
    * Emits one row per monitored column per trigger:
    * (column, kind, psi, chi2 [NaN for numeric], rows_cur) — route it to
    * a metrics sink or a threshold alarm in `sink`. */
  def driftStream(
      rows: DataFrame,
      checkpoint: String,
      numeric: Seq[graft.operators.Drift.PsiBaseline],
      categorical: Seq[graft.operators.Drift.CatBaseline] = Nil)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    require(numeric.nonEmpty || categorical.nonEmpty,
      "driftStream needs at least one baseline to monitor")
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val parts =
          numeric.map(b => graft.operators.Drift.psiAgainst(b, batch)
            .select(
              lit(b.valueCol).as("column"), lit("numeric").as("kind"),
              col("psi"), lit(Double.NaN).as("chi2"), col("rows_cur"))) ++
          categorical.map(b => graft.operators.Drift.psiCatAgainst(b, batch)
            .select(
              lit(b.valueCol).as("column"), lit("categorical").as("kind"),
              col("psi"), col("chi2"), col("rows_cur")))
        sink(parts.reduce(_ unionByName _), batchId)
      }
      .start()
  }

  // ------------------------------------------------------- admission stores

  /** A streaming ADMISSION STORE: each micro-batch is checked against
    * everything admitted so far, its survivors land in a persistent
    * commit-log store, and the sink receives only the admitted rows —
    * continuous-ingestion dedup that touches batch × bucket mates, never
    * the corpus. Five families share ONE lifecycle ([[admitBatch]],
    * [[foldStore]], [[admissionStream]]) and supply only what differs:
    *
    *  - keying: the batch's probe keys (band keys, md5 fingerprint,
    *    hyperplane bucket, packed or frame-folded hamming keys), matched
    *    against the store's `key` column;
    *  - verify/admit: the cross-batch check against the fetched history,
    *    plus the within-batch rule (the larger id of a qualifying pair
    *    drops, or the min id per identical class survives);
    *  - store rows: the `tables` written at admission — the MinHash store
    *    keeps `sigs/`, `bands/` and `buckets/` under one root, the others
    *    write the root only;
    *  - layout meta pinned in the manifest (LSH config, planes/dim,
    *    `chunks`): a store probed under a different layout would return
    *    garbage silently, so drift fails loudly and names the keys.
    *    Semantic knobs (thresholds, `maxHamming`, `minMatchedFrames`)
    *    stay per call.
    *
    * The protocol: admitted rows land in a `batch=<id>` partition that a
    * replayed attempt retires and replaces in the same manifest, and the
    * history read excludes the current batch, so a replay recomputes the
    * same admissions. Only the NEWEST batch may replay — the manifest's
    * `maxBatch` high-water mark survives folds, and an older batch id is
    * refused before anything is touched (its admissions may already sit
    * in `batch=-1` and would flag the replay as duplicates of itself).
    * Every commit carries [[graft.operators.CommitLog.SerialToken]], so a
    * concurrent writer loses the CAS loudly and foreachBatch re-runs the
    * batch against the new tip; reads pin the version the decisions were
    * computed against. History is fetched by key: the batch's distinct
    * probe keys (at most `maxFetch`) prune files by their manifest stats,
    * push an In filter plus a gap-split range cover into the parquet
    * scan ([[idCoverFilter]]), and above `maxFetch` keys the read falls
    * back to a full scan. Maintenance folds every partition but the
    * newest into one `batch=-1` sorted by `sortCols`, so per-trigger cost
    * stays O(compacted + recent deltas) and the pushed cover hits tight
    * row groups. A store written before the commit log is adopted on
    * first use ([[graft.operators.CommitLog.adopt]], its `<store>.meta`
    * sidecar seeding version 1's meta) — except a MinHash store, whose
    * legacy layout differs and is refused by name. */
  private final case class AdmissionStore(
      kind: String,
      tables: Seq[StoreTable],
      key: String,
      strictLayout: Boolean = false) {
    // sub-tables were sibling roots before the log: not adoptable
    def adoptable: Boolean = tables.forall(_.sub.isEmpty)
  }

  /** One table of an admission store: the root (`sub` = None) or a
    * sub-table, folded sorted by `sortCols`; `reagg` re-aggregates
    * partial rows in the fold (otherwise its row count is checked). */
  private final case class StoreTable(
      sub: Option[String],
      sortCols: Seq[String],
      reagg: Option[DataFrame => DataFrame] = None) {
    def prefix: String = sub.fold("")(_ + "/")
    def dir(batchId: Long): String = s"${prefix}batch=$batchId"
  }

  /** Meta key of an admission table's written schema: the store's own
    * [[CommitLog.SchemaMetaKey]] for the root table, `schema.<sub>` for a
    * sub-table. [[prunedRead]] applies it, so a history read infers
    * nothing; a store without it (adopted, pre-recording) is inferred. */
  private def tableSchemaKey(sub: Option[String]): String =
    sub.fold(CommitLog.SchemaMetaKey)(s => s"${CommitLog.SchemaMetaKey}.$s")

  /** A family's parts for one batch, evaluated by the lifecycle in this
    * order: the probe keys (only when the store has history), the
    * cross-batch check, the within-batch rule, the store rows. */
  private trait Keyed {
    /** the batch's probe keys: one column of values of the store's `key` */
    def probe: DataFrame
    /** fetched history rows → the `idCol` ids they make duplicates */
    def dupOfHistory(history: DataFrame): DataFrame
    /** the `idCol` ids the within-batch rule drops */
    def dupInBatch: DataFrame
    /** admitted rows → one frame per table */
    def storeRows(admitted: DataFrame): Seq[DataFrame]
  }

  /** The snapshot one batch is admitted against, and the caches its
    * keying holds until the staged write has materialized `admitted`. */
  private final class Pinned(
      spark: SparkSession, store: Path, version: Long, batchId: Long) {
    private val held = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def history(sub: Option[String]): Option[DataFrame] =
      prunedRead(spark, store, sub, version, None)
        .map(_.filter(col("batch") =!= batchId))
    def hold(df: DataFrame): DataFrame = { held += df; df }
    def release(): Unit = held.foreach(_.unpersist())
  }

  /** Adopt (or refuse) the store, then pin its tip: (version, meta). */
  private def pinStore(
      spark: SparkSession, store: Path, spec: AdmissionStore): (Long, Map[String, String]) = {
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (spec.adoptable) CommitLog.adopt(spark, store, Some(new Path(store.toString + ".meta")))
    else { refuseLegacyNearDupStore(fs, store); CommitLog.adopt(spark, store) }
    val v = CommitLog.currentVersion(fs, store)
    (v, if (v == 0) Map.empty else CommitLog.readManifest(fs, store, v).meta)
  }

  /** The one admission step: adopt → pin → layout check → replay guard →
    * key → probe → fetch → verify → stage → commit → release. Returns the
    * admitted rows of `batch`, persisted (the caller unpersists them). */
  private def admitBatch(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      idCol: String,
      spec: AdmissionStore,
      layout: Seq[(String, Option[String])],
      maxFetch: Int)(
      family: Pinned => Keyed): DataFrame = {
    val spark = batch.sparkSession
    val store = new Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (baseV, meta) = pinStore(spark, store, spec)
    requireLayout(spec, storePath, meta, layout, versioned = baseV > 0)
    requireReplayable(batchId, admittedMaxBatch(fs, store, meta, baseV), storePath)

    // the keying caches release after the staged write has materialized
    // admitted — or on any failure, together with admitted
    val pinned = new Pinned(spark, store, baseV, batchId)
    try {
      val k = family(pinned)
      val head = spec.tables.head
      // history presence from the manifest, not from a history frame (on
      // a store without recorded schemas, that costs an inference job)
      val hasHistory = CommitLog.snapshotFiles(fs, store, baseV)
        .exists(_.startsWith(head.prefix))
      // cap+1 probe, overflow-safe for maxFetch = Int.MaxValue
      val capProbe = math.min(maxFetch.toLong + 1L, Int.MaxValue.toLong).toInt
      val keys: Array[Any] =
        if (!hasHistory) Array.empty
        else k.probe.distinct().limit(capProbe).collect().map(_.get(0))
      val fetched =
        if (keys.isEmpty) None
        else if (keys.length > maxFetch) pinned.history(head.sub)
        else {
          val cover = idCoverFilter(col(spec.key), keys)
          prunedRead(spark, store, head.sub, baseV, idRanges(keys)).map(_
            .filter(col("batch") =!= batchId)
            .where(cover.getOrElse(lit(true)))
            .filter(col(spec.key).isInCollection(keys.toSeq)))
        }
      val inBatch = k.dupInBatch
      val drops = fetched.map(k.dupOfHistory(_).unionByName(inBatch)).getOrElse(inBatch)
      val admitted = batch.join(drops.distinct(), Seq(idCol), "left_anti").persist()
      try {
        // stage every table, publish ONE manifest
        val staging = Swap.Suffix.staging(store, Swap.newTag())
        val written = spec.tables.zip(k.storeRows(admitted)).map { case (t, rows) =>
          rows.write.parquet(new Path(staging, t.dir(batchId)).toString)
          tableSchemaKey(t.sub) -> rows.schema.json
        }
        CommitLog.commitStaged(spark, store, staging, baseV,
          retireNames = spec.tables.map(_.dir(batchId)),
          wholeStore = false,
          meta = layout.flatMap { case (key, v) => v.orElse(meta.get(key)).map(key -> _) }
            .toMap ++ written + ("maxBatch" -> batchId.toString),
          extraTouched = Seq(CommitLog.SerialToken),
          statsCol = Some(spec.key))
      } catch { case e: Throwable => admitted.unpersist(); throw e }
      admitted
    } finally pinned.release()
  }

  /** Layout drift check. A key this batch cannot tell (None: embedding's
    * `dim` on an empty batch) is neither checked nor recorded; a key the
    * store has not recorded is accepted, except by a `strictLayout`
    * store that already has versions. */
  private def requireLayout(
      spec: AdmissionStore,
      storePath: String,
      meta: Map[String, String],
      layout: Seq[(String, Option[String])],
      versioned: Boolean): Unit = {
    val ok = layout.forall { case (key, v) =>
      meta.get(key).fold(!(spec.strictLayout && versioned))(p => v.forall(_ == p))
    }
    require(ok,
      s"${spec.kind} store at $storePath was built with " +
        layout.map { case (key, _) => s"$key=${meta.getOrElse(key, "?")}" }
          .mkString("(", ", ", ")") +
        ", this stream uses " +
        layout.collect { case (key, Some(v)) => s"$key=$v" }.mkString("(", ", ", ")") +
        " — rebuild the store or match the configuration")
  }

  private def requireReplayable(
      batchId: Long, maxBatch: Long, storePath: String): Unit =
    require(batchId >= maxBatch,
      s"out-of-protocol replay: batch $batchId is older than the newest " +
        s"admitted batch $maxBatch in $storePath — its prior admissions may " +
        "already be folded into batch=-1, which would silently flag the " +
        "replay as duplicates of itself; only the latest batch may replay " +
        "(reset the checkpoint and store consistently, or rebuild the store)")

  /** The newest admitted batch: the manifest's `maxBatch`, or — on a
    * store adopted from the legacy layout, which recorded none — the
    * highest top-level `batch=<id>` dir in the snapshot. A fold keeps the
    * newest batch in its own dir, so the derivation survives folds. -1
    * for an empty store. */
  private def admittedMaxBatch(
      fs: org.apache.hadoop.fs.FileSystem,
      store: Path,
      meta: Map[String, String],
      baseV: Long): Long =
    meta.get("maxBatch").map(_.toLong).getOrElse(
      CommitLog.snapshotFiles(fs, store, baseV)
        .flatMap(_.split('/').headOption).distinct
        .filter(_.startsWith("batch="))
        .flatMap(n => scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
        .foldLeft(-1L)(math.max))

  /** A MinHash admission store written before the log kept its
    * signatures in root-level `batch=<id>` dirs, with its band and bucket
    * tables as sibling roots (`<store>.bands`, `<store>.buckets`) or,
    * older still, not at all. The log layout keeps the three tables as
    * `sigs/`, `bands/` and `buckets/` sub-tables, so neither legacy
    * layout can be adopted file for file: it is refused before anything
    * touches the store. */
  private def refuseLegacyNearDupStore(
      fs: org.apache.hadoop.fs.FileSystem,
      store: Path): Unit = {
    if (CommitLog.isLog(fs, store)) return
    val siblings = Seq(".bands", ".buckets")
      .map(s => new Path(store.toString + s))
      .filter(fs.exists)
    val rootBatches = fs.exists(store) && fs.listStatus(store)
      .exists(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
    if (siblings.nonEmpty || rootBatches)
      throw new IllegalArgumentException(
        s"$store is a legacy MinHash admission store (root-level batch=<id> " +
          "signature dirs" +
          (if (siblings.isEmpty) "" else
            s", sibling roots ${siblings.map(_.getName).mkString(", ")}") +
          ") whose layout differs from the commit-log layout and cannot be " +
          "adopted — rebuild it by replaying the stream into a fresh path")
  }

  /** The one maintenance fold: every batch partition but the newest, in
    * every table, into a single `batch=-1` (merged with the previous
    * fold), range-partitioned and sorted by the table's `sortCols`, in
    * ONE manifest — no state has one table folded and another not. A
    * content-preserving fold is row-count-checked from parquet footers
    * before the commit (a re-aggregated one legitimately shrinks). The
    * newest batch keeps its own partition: only it can replay, and a
    * replay must be able to exclude and replace itself. Maintenance is
    * also when the store physically shrinks: it vacuums the retired
    * files (retention still protects recently pinned readers). */
  private def foldStore(
      spark: SparkSession,
      storePath: String,
      spec: AdmissionStore,
      targetFileBytes: Long): Unit = {
    val store = new Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (baseV, meta) = pinStore(spark, store, spec)
    if (baseV == 0) return
    val files = CommitLog.snapshotFiles(fs, store, baseV)
    val prefix = spec.tables.head.prefix
    val ids = files.filter(_.startsWith(prefix))
      .flatMap(_.stripPrefix(prefix).split('/').headOption).distinct
      .flatMap(n => scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
    val live = ids.filter(_ >= 0)
    if (live.isEmpty) return
    val foldIds = ids.filter(_ < live.max).sorted // includes a previous -1
    if (!foldIds.exists(_ >= 0)) return           // only the fold itself left

    val staging = Swap.Suffix.staging(store, Swap.newTag())
    val written = spec.tables.flatMap { t =>
      val inFiles = files.filter(f => foldIds.exists(i => f.startsWith(t.dir(i) + "/")))
      if (inFiles.isEmpty) None
      else {
        val bytes = inFiles.map(f => fs.getFileStatus(new Path(store, f)).getLen).sum
        val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
        val folded = prunedRead(spark, store, t.sub, baseV, None).get
          .filter(col("batch").isin(foldIds: _*)).drop("batch")
        val sortCols = t.sortCols.map(col)
        val dest = new Path(staging, t.dir(-1))
        // range-partition + sort (not a global sort): each output file
        // holds a contiguous key range for row-group pruning + compression
        val rows = t.reagg.fold(folded)(_(folded))
        rows.repartitionByRange(nOut, sortCols: _*)
          .sortWithinPartitions(sortCols: _*)
          .write.parquet(dest.toString)
        if (t.reagg.isEmpty) {
          val before = graft.operators.Compact.footerRowsOf(spark,
            inFiles.map(new Path(store, _)))
          val after = graft.operators.Compact.footerRowsIn(spark, Seq(dest))
          if (before != after) {
            fs.delete(staging, true)
            throw new IllegalStateException(
              s"fold row mismatch for $storePath${t.sub.fold("")("/" + _)}: " +
                s"$before -> $after (store untouched)")
          }
        }
        Some(tableSchemaKey(t.sub) -> rows.schema.json)
      }
    }
    CommitLog.commitStaged(spark, store, staging, baseV,
      retireNames = foldIds.flatMap(i => spec.tables.map(_.dir(i))),
      wholeStore = false,
      // layout, schemas + maxBatch carry forward; the tip's operation
      // label does not
      meta = meta - "operation" ++ written,
      extraTouched = Seq(CommitLog.SerialToken),
      statsCol = Some(spec.key)) // sorted fold → tight per-file ranges
    CommitLog.vacuum(spark, store)
    ()
  }

  /** The one admission driver: `foreachBatch` runs the family's apply
    * step, hands the admitted rows to `sink` and unpersists them, then
    * folds the store every `maintainEvery` batches — AFTER the sink, so a
    * crash mid-fold recovers on the next batch. */
  private def admissionStream(
      input: DataFrame,
      checkpoint: String,
      maintainEvery: Int,
      sink: (DataFrame, Long) => Unit)(
      apply: (DataFrame, Long) => DataFrame,
      maintain: SparkSession => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = apply(batch, batchId)
        try sink(admitted, batchId)
        finally admitted.unpersist()
        if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0)
          maintain(batch.sparkSession)
      }
      .start()

  /** The admitted rows' slice of a keyed batch frame (`graft_id`). */
  private def admittedOf(keyed: DataFrame, admitted: DataFrame, idCol: String): DataFrame =
    keyed.join(admitted.select(col(idCol).as("graft_id")), Seq("graft_id"), "left_semi")

  private val NearDupStore = AdmissionStore("signature",
    Seq(StoreTable(Some("sigs"), Seq("graft_id")),
      StoreTable(Some("bands"), Seq("band", "bucket", "hist_id")),
      StoreTable(Some("buckets"), Seq("band", "bucket"),
        Some(_.groupBy("band", "bucket").agg(sum("n").as("n"))))),
    key = "graft_id", strictLayout = true)

  /** Incremental corpus near-dup dedup against a MinHash signature store
    * (the admission-store lifecycle; see [[AdmissionStore]]).
    *
    * Cross-batch similarity is ESTIMATED from signature agreement (the
    * store holds k-long signatures, never text — fixed-width per doc, the
    * only thing that persists at 100 TB); the MinHash estimator's error
    * is ~1/√k. Within a batch the text is in hand: LSH pairs are verified
    * with exact shingle Jaccard and the larger id drops. */
  def nearDupStream(
      docs: DataFrame,
      storePath: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 128,
      bands: Int = 16,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxBucket: Int = 1000,
      maintainEvery: Int = 32)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    admissionStream(docs, checkpoint, maintainEvery, sink)(
      applyNearDupBatch(_, storePath, _, idCol, textCol, numHashes, bands,
        shingleN, threshold, maxBucket),
      maintainNearDupStore(_, storePath))

  /** The per-batch step behind [[nearDupStream]] (driveable directly in
    * tests and backfills). Returns the admitted rows of `batch`.
    *
    * {{{
    * store/_log/...            manifests (LSH config + maxBatch in meta)
    * store/sigs/batch=<id>/    admitted MinHash signatures
    * store/bands/batch=<id>/   their exploded LSH band keys
    * store/buckets/batch=<id>/ partial bucket counts per batch
    * }}}
    *
    * Band keys and bucket counts of an admitted batch never change, so
    * they are written once at admission and only read afterwards: the
    * batch's band rows join history band rows in buckets of at most
    * `maxBucket` admitted members, and the candidates' signatures are
    * fetched by `graft_id` (`maxVerifyFetch` is the fetch cap). One
    * signature pass per batch feeds the probe, the store rows and the
    * within-batch LSH self-join, which applies the same `maxBucket`. */
  def applyNearDupBatch(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 128,
      bands: Int = 16,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxBucket: Int = 1000,
      maxVerifyFetch: Int = 100000): DataFrame = {
    import graft.functions.TextFunctions._
    val layout = Seq("numHashes" -> numHashes, "bands" -> bands, "shingleN" -> shingleN)
      .map { case (key, v) => key -> Some(v.toString) }
    admitBatch(batch, storePath, batchId, idCol, NearDupStore, layout, maxVerifyFetch) { p =>
      val sigB = p.hold(batch.select(
        col(idCol).as("graft_id"),
        minhashTextSignature(col(textCol), shingleN, numHashes).as("graft_sig")).persist())
      def banded(sigs: DataFrame) = sigs.select(col("graft_id"),
        explode(bandKeys(col("graft_sig"), bands, numHashes)).as("graft_band"))
      def bandRows(sigs: DataFrame) = banded(sigs)
        .select(col("graft_id"), col("graft_band.band"), col("graft_band.bucket"))
      new Keyed {
        // every admission commit writes all three tables, so history that
        // holds signatures also holds bands and buckets
        lazy val candidates = p.hold(bandRows(sigB)
          .join(p.history(Some("bands")).get.select("hist_id", "band", "bucket")
            .join(p.history(Some("buckets")).get
              .groupBy("band", "bucket").agg(sum("n").as("n"))
              .filter(col("n") <= maxBucket), Seq("band", "bucket"), "left_semi"),
            Seq("band", "bucket"))
          .select("graft_id", "hist_id").distinct()
          .persist()) // read twice: id-set probe + verify join
        def probe = candidates.select("hist_id")
        def dupOfHistory(h: DataFrame) = {
          // MinHash estimator: fraction of agreeing signature positions
          val agree = size(filter(
            zip_with(col("graft_sig"), col("hist_sig"), (a, b) => a === b),
            x => x)).cast("double") / numHashes
          candidates
            .join(sigB, "graft_id")
            .join(h.select(col("graft_id").as("hist_id"), col("graft_sig").as("hist_sig")),
              "hist_id")
            .filter(agree >= threshold)
            .select(col("graft_id").as(idCol))
        }
        def dupInBatch = p.hold(graft.operators.Dedup.lshSelfJoin(
            batch, idCol, textCol, banded(sigB), shingleN, threshold, maxBucket))
          .select(col("id_b").as(idCol))
        def storeRows(a: DataFrame) = {
          val sigA = p.hold(admittedOf(sigB, a, idCol).persist())
          val bandA = bandRows(sigA).withColumnRenamed("graft_id", "hist_id")
          Seq(sigA, bandA, bandA.groupBy("band", "bucket").agg(count(lit(1)).as("n")))
        }
      }
    }
  }

  /** Maintenance for a [[nearDupStream]] store: [[foldStore]] over its
    * three tables; the bucket partials re-aggregate to one row per
    * bucket, so the bucket scan stays O(distinct buckets + deltas). */
  def maintainNearDupStore(
      spark: SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L << 20): Unit =
    foldStore(spark, storePath, NearDupStore, targetFileBytes)

  private val ExactStore = AdmissionStore("fingerprint",
    Seq(StoreTable(None, Seq("graft_fp"))), key = "graft_fp")

  /** Incremental corpus EXACT dedup against a fingerprint store (the
    * admission-store lifecycle; see [[AdmissionStore]]) — the
    * restart-survivable form of `dropDuplicates`, whose state dies with
    * its checkpoint. The store holds (id, md5-of-text) only; pass
    * pre-normalized text (TextFunctions.normalize) when byte-identical is
    * too strict a key. */
  def exactDedupStream(
      docs: DataFrame,
      storePath: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      maintainEvery: Int = 32)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    admissionStream(docs, checkpoint, maintainEvery, sink)(
      applyExactDedupBatch(_, storePath, _, idCol, textCol),
      maintainExactDedupStore(_, storePath))

  /** The per-batch step behind [[exactDedupStream]]. The batch's own
    * distinct fingerprints are the probe keys (`maxFetch` is the fetch
    * cap); within the batch the minimum id per fingerprint survives,
    * matching Dedup.dedupExact's deterministic convention. */
  def applyExactDedupBatch(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxFetch: Int = 100000): DataFrame =
    admitBatch(batch, storePath, batchId, idCol, ExactStore, Nil, maxFetch) { p =>
      val fpB = p.hold(batch.select(
        col(idCol).as("graft_id"),
        md5(col(textCol).cast("string")).as("graft_fp")).persist())
      new Keyed {
        def probe = fpB.select("graft_fp")
        def dupOfHistory(h: DataFrame) =
          fpB.join(h.select("graft_fp"), Seq("graft_fp"), "left_semi")
            .select(col("graft_id").as(idCol))
        def dupInBatch = fpB
          .join(fpB.groupBy("graft_fp").agg(min("graft_id").as("graft_keep")),
            Seq("graft_fp"))
          .filter(col("graft_id") =!= col("graft_keep"))
          .select(col("graft_id").as(idCol))
        def storeRows(a: DataFrame) = Seq(admittedOf(fpB, a, idCol))
      }
    }

  /** Maintenance for an [[exactDedupStream]] store: [[foldStore]],
    * sorted by fingerprint. */
  def maintainExactDedupStore(
      spark: SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L << 20): Unit =
    foldStore(spark, storePath, ExactStore, targetFileBytes)

  private val EmbeddingStore = AdmissionStore("embedding",
    Seq(StoreTable(None, Seq("graft_bucket", "graft_id"))), key = "graft_bucket")

  /** Incremental EMBEDDING near-dup dedup against a vector store (the
    * admission-store lifecycle; see [[AdmissionStore]]): a row drops
    * when its cosine to an admitted vector, or to a smaller-id row of
    * its own batch, reaches `threshold`. The store holds the embeddings
    * themselves, so cross-batch cosine is EXACT and a row's fate depends
    * only on (row, admitted history) — streamed admission equals the
    * batch operator's survivor set. Candidates are blocked by the same
    * replayable hyperplane buckets as
    * [[graft.operators.Dedup.embeddingNearDupReplayable]]. The layout
    * meta pins `planes` and `dim` (a different dim would silently
    * truncate every dot product); `dim` is recorded from the first
    * non-empty batch. */
  def embeddingNearDupStream(
      vecs: DataFrame,
      storePath: String,
      checkpoint: String,
      idCol: String = "doc_id",
      vecCol: String = "embedding",
      threshold: Double = 0.95,
      planes: Int = 8,
      maintainEvery: Int = 32)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    admissionStream(vecs, checkpoint, maintainEvery, sink)(
      applyEmbeddingNearDupBatch(_, storePath, _, idCol, vecCol, threshold, planes),
      maintainEmbeddingNearDupStore(_, storePath))

  /** The per-batch step behind [[embeddingNearDupStream]]. Returns the
    * admitted rows of `batch` (persisted — the caller unpersists after
    * its sink). */
  def applyEmbeddingNearDupBatch(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      idCol: String = "doc_id",
      vecCol: String = "embedding",
      threshold: Double = 0.95,
      planes: Int = 8,
      maxBucketFetch: Int = 100000): DataFrame = {
    require(planes >= 1 && planes <= 30, s"planes=$planes out of range")
    import graft.operators.Similarity
    val dim = {
      val r = batch.agg(max(size(col(vecCol)))).head
      if (r.isNullAt(0)) 0 else r.getInt(0)
    }
    val layout = Seq("planes" -> Some(planes.toString),
      "dim" -> Some(dim).filter(_ > 0).map(_.toString))
    admitBatch(batch, storePath, batchId, idCol, EmbeddingStore, layout, maxBucketFetch) { p =>
      val sigB = p.hold(batch.select(
        col(idCol).as("graft_id"),
        col(vecCol).as("graft_vec"),
        (if (dim == 0) lit(0L)
         else Similarity.replayableHyperplaneBucket(col(vecCol), planes, dim))
          .as("graft_bucket"))
        .persist())
      def close(a: String, b: String) =
        round(Similarity.cosine(col(a), col(b)), 4) >= threshold
      new Keyed {
        def probe = sigB.select("graft_bucket")
        def dupOfHistory(h: DataFrame) = sigB
          .join(h.select(col("graft_vec").as("hist_vec"), col("graft_bucket").as("hist_bucket")),
            col("graft_bucket") === col("hist_bucket"))
          .filter(close("graft_vec", "hist_vec"))
          .select(col("graft_id").as(idCol))
        def dupInBatch = sigB.as("l")
          .join(sigB.as("r"),
            col("l.graft_bucket") === col("r.graft_bucket") &&
              col("l.graft_id") < col("r.graft_id"))
          .filter(close("l.graft_vec", "r.graft_vec"))
          .select(col("r.graft_id").as(idCol))
        def storeRows(a: DataFrame) = Seq(admittedOf(sigB, a, idCol))
      }
    }
  }

  /** Maintenance for an [[embeddingNearDupStream]] store: [[foldStore]],
    * sorted by bucket. */
  def maintainEmbeddingNearDupStore(
      spark: SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L << 20): Unit =
    foldStore(spark, storePath, EmbeddingStore, targetFileBytes)

  private val HammingStore = AdmissionStore("hamming",
    Seq(StoreTable(None, Seq("graft_bucket", "graft_sh"))), key = "graft_bucket")

  /** Streaming near-dup admission over 64-bit HAMMING fingerprints (the
    * admission-store lifecycle; see [[AdmissionStore]]) — image
    * dHash/pHash, audio energy fingerprints and text SimHash (anything
    * that feeds [[graft.operators.Dedup.hammingNearDupPairs]]). A row
    * drops when its hash is within `maxHamming` of an admitted hash
    * (cross-batch is EXACT `bit_count(xor)` on the stored values) or of a
    * smaller-id row in its own batch. Rows with a NULL fingerprint never
    * pair and are admitted.
    *
    * The store holds only the DISTINCT admitted hash values (an identical
    * later copy is hamming-0 and drops), so it is support-sized by
    * construction and stops growing when the fingerprint manifold
    * saturates (BandAudit, r18). Its rows are that support exploded into
    * exact packed (chunk, value) band keys; the PROBE side carries the
    * radius-1 flip expansion. Within a batch, class members drop against
    * their min-id representative and representative pairs run over the
    * support only. The layout meta pins `chunks`. */
  def hammingNearDupStream(
      fps: DataFrame,
      storePath: String,
      checkpoint: String,
      idCol: String = "doc_id",
      hashCol: String = "fingerprint",
      maxHamming: Int = 3,
      chunks: Int = 0,
      maintainEvery: Int = 32)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    admissionStream(fps, checkpoint, maintainEvery, sink)(
      applyHammingNearDupBatch(_, storePath, _, idCol, hashCol, maxHamming, chunks),
      maintainHammingNearDupStore(_, storePath))

  /** Streaming TEXT SimHash near-dup admission: docs(id, text) →
    * [[graft.functions.TextFunctions.simhash64Fast]] fingerprints (the
    * throughput xxhash64 kernel [[graft.operators.Dedup.simhashNearDup]]
    * uses — a private ingest store needs speed, not oracle replay) →
    * the generic [[hammingNearDupStream]] admission store. Default
    * maxHamming = 7 matches the batch q_simhash_pairs contract; chunks
    * resolves through the same autoChunks rule (7 → 4 → 16-bit keys). */
  def simhashNearDupStream(
      docs: DataFrame,
      storePath: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 7,
      maintainEvery: Int = 32)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    hammingNearDupStream(
      docs.select(col(idCol),
        graft.functions.TextFunctions.simhash64Fast(
          graft.functions.TextFunctions.tokens(col(textCol))).as("graft_fp")),
      storePath, checkpoint, idCol = idCol, hashCol = "graft_fp",
      maxHamming = maxHamming, chunks = 0, maintainEvery = maintainEvery)(sink)

  /** Resolve the multi-index layout for a hamming store: `chunks = 0`
    * (the default) = the widest radius-1-sound split, floored at 2 so
    * the packed (chunk, value) band key always fits a non-negative long
    * (chunks=1 would make the key the raw 64-bit hash). */
  private def hammingStoreChunks(maxHamming: Int, chunks: Int): Int = {
    val n = if (chunks == 0)
      math.max(2, graft.operators.Dedup.autoChunks(maxHamming))
    else chunks
    require(n >= 2 && 64 % n == 0,
      s"chunks=$n must divide 64 and be >= 2 (the packed band key " +
        "reserves the sign bit)")
    require(maxHamming / n <= 1,
      s"per-chunk radius ${maxHamming / n} > 1 at chunks=$n — raise " +
        s"chunks so that maxHamming=$maxHamming < 2*chunks")
    n
  }

  /** Packed multi-index band keys for a 64-bit hash: one long per chunk,
    * `(chunkIdx << width) | chunkValue`. With `expand` the radius-1 flip
    * neighbors ride along (probe side); without, exact keys only (store
    * side). Width ≤ 32 because chunks ≥ 2, so the packed key is always
    * non-negative. */
  private def hammingBandKeys(
      hash: Column, nChunks: Int, expand: Boolean): Column = {
    val width = 64 / nChunks
    val mask = (1L << width) - 1
    def cv(c: Int) = shiftrightunsigned(hash, c * width).bitwiseAND(mask)
    def packed(c: Int, v: Column) = lit(c.toLong * (1L << width)) + v
    array((0 until nChunks).flatMap { c =>
      packed(c, cv(c)) +: (if (!expand) Nil
      else (0 until width).map(b => packed(c, cv(c).bitwiseXOR(1L << b))))
    }: _*)
  }

  /** The per-batch step behind [[hammingNearDupStream]]. Returns the
    * admitted rows of `batch` (persisted — the caller unpersists after
    * its sink). */
  def applyHammingNearDupBatch(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      idCol: String = "doc_id",
      hashCol: String = "fingerprint",
      maxHamming: Int = 3,
      chunks: Int = 0,
      maxBucketFetch: Int = 200000): DataFrame = {
    val nChunks = hammingStoreChunks(maxHamming, chunks)
    admitBatch(batch, storePath, batchId, idCol, HammingStore,
      Seq("chunks" -> Some(nChunks.toString)), maxBucketFetch) { p =>
      // within-batch: non-representative class members drop against their
      // min-id representative (hamming 0), representative pairs drop
      // their larger id — exactly the pairwise larger-id-drops convention
      val (repPairs, members, _) = graft.operators.Dedup.hammingRepPairs(
        batch, idCol, hashCol, maxHamming, nChunks)
      // the cross-batch probe needs only the batch's distinct hash VALUES
      val keys = p.hold(batch.filter(col(hashCol).isNotNull)
        .select(col(hashCol).as("graft_sh")).distinct()
        .withColumn("graft_bucket", explode(hammingBandKeys(
          col("graft_sh"), nChunks, expand = maxHamming / nChunks == 1)))
        .distinct().persist())
      new Keyed {
        def probe = keys.select("graft_bucket")
        def dupOfHistory(h: DataFrame) = {
          // exact verify on the support; ids recover by a hash join, so a
          // whole identical class drops together
          val dupHashes = keys
            .join(h.select(col("graft_bucket"), col("graft_sh").as("hist_sh")),
              Seq("graft_bucket"))
            .filter(graft.functions.TextFunctions
              .hamming64(col("graft_sh"), col("hist_sh")) <= maxHamming)
            .select("graft_sh").distinct()
          batch.join(dupHashes, batch(hashCol) === dupHashes("graft_sh")).select(col(idCol))
        }
        def dupInBatch = members
          .filter(col("graft_id") =!= col("graft_rep"))
          .select(col("graft_id").as(idCol))
          .unionByName(repPairs.select(col("rep_b").as(idCol)))
        // the distinct admitted support's exact band keys (NULL
        // fingerprints are admitted but never occupy the store)
        def storeRows(a: DataFrame) = Seq(a.filter(col(hashCol).isNotNull)
          .select(col(idCol).as("graft_id"), col(hashCol).as("graft_sh"))
          .withColumn("graft_bucket",
            explode(hammingBandKeys(col("graft_sh"), nChunks, expand = false))))
      }
    }
  }

  /** Maintenance for a [[hammingNearDupStream]] store: [[foldStore]],
    * sorted by bucket. */
  def maintainHammingNearDupStore(
      spark: SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L << 20): Unit =
    foldStore(spark, storePath, HammingStore, targetFileBytes)

  private val FrameHammingStore = AdmissionStore("frame hamming",
    Seq(StoreTable(None, Seq("graft_bucket", "graft_id"))), key = "graft_bucket")

  /** Streaming FRAME-LEVEL (positional) hamming near-dup admission (the
    * admission-store lifecycle; see [[AdmissionStore]]) — the video twin
    * of [[hammingNearDupStream]]: items are SETS of aligned 64-bit frame
    * fingerprints, and an item drops when at least `minMatchedFrames` of
    * its SAME-INDEX frames are within `maxHamming` bits of ONE admitted
    * item or of a smaller-id item in its batch — the batch
    * [[graft.multimodal.Multimodal.videoNearDupPairs]] contract (matches
    * spread across different admitted items do not sum). Input rows are
    * FRAMES `(idCol, posCol, hashCol)`; admission is decided per ITEM.
    *
    * The store holds the admitted items' frame fingerprints exploded to
    * band rows with the frame position FOLDED INTO the bucket key, so
    * bucket equality implies frame alignment; positions must be
    * non-negative. There is no cross-item support collapse: the store is
    * admitted items × frames × chunks rows. Items whose frames are all
    * NULL never pair and are admitted; an item with fewer frames than
    * `minMatchedFrames` can never drop. The layout meta pins `chunks`. */
  def frameHammingNearDupStream(
      frames: DataFrame,
      storePath: String,
      checkpoint: String,
      idCol: String = "media_id",
      posCol: String = "frame_idx",
      hashCol: String = "fhash",
      maxHamming: Int = 6,
      minMatchedFrames: Int = 4,
      chunks: Int = 0,
      maintainEvery: Int = 32)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    admissionStream(frames, checkpoint, maintainEvery, sink)(
      applyFrameHammingNearDupBatch(_, storePath, _, idCol, posCol, hashCol,
        maxHamming, minMatchedFrames, chunks),
      maintainFrameHammingNearDupStore(_, storePath))

  /** Frame band keys: [[hammingBandKeys]] with the (non-negative) frame
    * position folded into every key — `pos · stride + packed` with
    * `stride = chunks · 2^width` — so bucket equality ⇒ same position ∧
    * same chunk ∧ same chunk value. Positions stay distinguishable up
    * to 2⁴⁵ even at the widest layout (chunks=2 → stride 2³³). */
  private def frameBandKeys(
      hash: Column, pos: Column, nChunks: Int, expand: Boolean): Column = {
    val stride = nChunks.toLong * (1L << (64 / nChunks))
    transform(hammingBandKeys(hash, nChunks, expand),
      k => pos.cast("long") * lit(stride) + k)
  }

  /** The per-batch step behind [[frameHammingNearDupStream]]. Returns the
    * admitted FRAME rows of `batch` (persisted — the caller unpersists
    * after its sink). */
  def applyFrameHammingNearDupBatch(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      idCol: String = "media_id",
      posCol: String = "frame_idx",
      hashCol: String = "fhash",
      maxHamming: Int = 6,
      minMatchedFrames: Int = 4,
      chunks: Int = 0,
      maxBucketFetch: Int = 200000): DataFrame = {
    val nChunks = hammingStoreChunks(maxHamming, chunks)
    def aligned(pairs: DataFrame, a: String, b: String) = pairs
      .groupBy(a, b).agg(count(lit(1)).as("graft_m"))
      .filter(col("graft_m") >= minMatchedFrames)
    admitBatch(batch, storePath, batchId, idCol, FrameHammingStore,
      Seq("chunks" -> Some(nChunks.toString)), maxBucketFetch) { p =>
      val valid = batch.filter(col(hashCol).isNotNull && col(posCol).isNotNull)
      val keys = p.hold(valid
        .select(col(idCol).as("graft_bid"),
          col(posCol).cast("long").as("graft_pos"),
          col(hashCol).as("graft_bh"))
        .withColumn("graft_bucket", explode(frameBandKeys(
          col("graft_bh"), col("graft_pos"), nChunks, expand = maxHamming / nChunks == 1)))
        .distinct().persist())
      new Keyed {
        def probe = keys.select("graft_bucket")
        // exact per-frame verify, then the per-pair aligned count against
        // each admitted item: one row per (item, admitted item, frame)
        def dupOfHistory(h: DataFrame) = aligned(keys
          .join(h.select(col("graft_bucket"), col("graft_id").as("graft_hid"),
            col("graft_sh").as("graft_hh")), Seq("graft_bucket"))
          .filter(graft.functions.TextFunctions
            .hamming64(col("graft_bh"), col("graft_hh")) <= maxHamming)
          .select("graft_bid", "graft_hid", "graft_pos").distinct(),
          "graft_bid", "graft_hid")
          .select(col("graft_bid").as(idCol))
        // within-batch: the batch operator verbatim (aligned-frame pairs
        // via the distinct-first multi-index join, larger id drops)
        def dupInBatch = aligned(graft.operators.Dedup.hammingNearDupPairs(
            valid, idCol, hashCol, maxHamming, nChunks, groupCols = Seq(posCol)),
          "id_a", "id_b")
          .select(col("id_b").as(idCol))
        def storeRows(a: DataFrame) = Seq(a.filter(col(hashCol).isNotNull && col(posCol).isNotNull)
          .select(col(idCol).as("graft_id"),
            col(posCol).cast("long").as("graft_pos"),
            col(hashCol).as("graft_sh"))
          .withColumn("graft_bucket", explode(frameBandKeys(
            col("graft_sh"), col("graft_pos"), nChunks, expand = false))))
      }
    }
  }

  /** Maintenance for a [[frameHammingNearDupStream]] store:
    * [[foldStore]], sorted by bucket. */
  def maintainFrameHammingNearDupStore(
      spark: SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L << 20): Unit =
    foldStore(spark, storePath, FrameHammingStore, targetFileBytes)

  /** Read a log store (or one sub-table) at a pinned version from an
    * explicitly PRUNED file list: files whose manifest-recorded
    * stats-column range overlaps none of the candidate `ranges` are
    * skipped before any footer is opened — manifest-level pruning on
    * top of the row-group pruning the pushed filters already do. Files
    * without stats are always kept (conservative). None when no file
    * survives — no file can contain the candidates. */
  private[graft] def prunedRead(
      spark: SparkSession,
      store: Path,
      sub: Option[String],
      version: Long,
      ranges: Option[Seq[(Any, Any)]]): Option[DataFrame] = {
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = CommitLog.snapshotFilesWithStats(fs, store, version)
    val slice = sub.fold(all)(s0 => all.filter(_._1.startsWith(s0 + "/")))
    if (slice.isEmpty) return None
    val kept = ranges match {
      case None => slice
      case Some(rs) => slice.filter { case (_, st) =>
        st.forall(s => rs.exists { case (lo, hi) => s.overlaps(lo, hi) })
      }
    }
    if (kept.isEmpty) None
    else {
      val basePath = sub.fold(store)(s0 => new Path(store, s0))
      val reader = spark.read.option("basePath", basePath.toString)
      // the recorded schema, when the commit carries one: no inference job
      val schema = CommitLog.readManifest(fs, store, version).meta.get(tableSchemaKey(sub))
        .map(org.apache.spark.sql.types.DataType.fromJson(_)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      Some(schema.fold(reader)(reader.schema)
        .parquet(kept.map { case (f, _) => new Path(store, f).toString }: _*))
    }
  }

  /** Row-group-prunable cover for a candidate id set: sort the ids, split
    * at the `maxRanges - 1` widest gaps, and return OR-of-BETWEEN over the
    * resulting tight ranges (plus a single [min,max] range for string
    * ids, whose gap widths are not meaningful). The cover is a SUPERSET
    * of the ids — callers keep the exact In filter on top — so it only
    * affects which row groups are read, never which rows qualify. None
    * for empty or unsupported id types (cover skipped, exact filter still
    * applies). */
  private[graft] def idCoverFilter(
      idCol: org.apache.spark.sql.Column,
      ids: Array[Any],
      maxRanges: Int = 32): Option[org.apache.spark.sql.Column] =
    idRanges(ids, maxRanges).map(rs =>
      rs.map { case (lo, hi) => idCol >= lit(lo) && idCol <= lit(hi) }
        .reduce(_ || _))

  /** The driver-side range cover behind [[idCoverFilter]], reusable for
    * FILE-level pruning against commit-log manifest stats: a superset of
    * `ids` as ≤ `maxRanges` [lo, hi] pairs (typed endpoints). */
  private[graft] def idRanges(
      ids: Array[Any],
      maxRanges: Int = 32): Option[Seq[(Any, Any)]] = {
    if (ids.isEmpty) None
    else if (ids.forall(v => v.isInstanceOf[java.lang.Long] ||
      v.isInstanceOf[java.lang.Integer] ||
      v.isInstanceOf[java.lang.Short] || v.isInstanceOf[java.lang.Byte])) {
      // endpoints keep their ORIGINAL boxed type: a widening cast on the
      // column side (int col vs long literal) can block parquet pushdown
      val sorted = ids.map(v => (v.asInstanceOf[Number].longValue, v))
        .distinctBy(_._1).sortBy(_._1)
      val gaps = (1 until sorted.length)
        .map(i => (sorted(i)._1 - sorted(i - 1)._1, i))
        .filter(_._1 > 1)
        .sortBy(-_._1)
        .take(maxRanges - 1)
        .map(_._2).sorted
      val bounds = (0 +: gaps) :+ sorted.length
      Some(bounds.sliding(2)
        .map { case Seq(a, b) => (sorted(a)._2, sorted(b - 1)._2) }.toSeq)
    } else if (ids.forall(_.isInstanceOf[String])) {
      val xs = ids.map(_.asInstanceOf[String])
      Some(Seq((xs.min, xs.max)))
    } else None
  }

}
