package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
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

  /** Incremental corpus near-dup dedup: each micro-batch of documents is
    * checked against a persistent MinHash-signature store of everything
    * ever admitted; near-dups of history (and within the batch) are
    * dropped, and the admitted docs' signatures append to the store.
    * This is continuous-ingestion dedup — the batch operator re-run over
    * the full corpus per day does not scale; this touches only
    * batch × LSH-bucket-mates.
    *
    * Cross-batch similarity is ESTIMATED from signature agreement (the
    * store holds k-long signatures, never text — at 100 TB the store is
    * the only thing that persists, and it is fixed-width per doc); the
    * MinHash estimator's error is ~1/√k. Within-batch dedup has the text
    * in hand and verifies exactly.
    *
    * Exactly-once admissions without a marker: admitted signatures land
    * in a `batch=<id>` hive partition REPLACED per attempt, and the
    * history join excludes rows of the current batchId — a replayed
    * batch dedups against strictly-older history, recomputes the same
    * admitted set, and replaces its own partition idempotently. */
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
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = applyNearDupBatch(batch, storePath, batchId, idCol,
          textCol, numHashes, bands, shingleN, threshold, maxBucket)
        try sink(admitted, batchId)
        // per-batch caches must not accumulate across a long-running
        // stream — admitted is the last one standing (the inner ones are
        // released inside applyNearDupBatch)
        finally admitted.unpersist()
        // periodic store maintenance: fold the one-dir-per-trigger
        // batch partitions so per-batch read cost stays O(compacted +
        // recent deltas) instead of O(#triggers ever). Runs AFTER the
        // sink — a crash mid-fold recovers on the next batch.
        if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0)
          maintainNearDupStore(batch.sparkSession, storePath)
      }
      .start()

  /** The per-batch step behind [[nearDupStream]] (driveable directly in
    * tests and backfills). Returns the admitted rows of `batch`.
    *
    * Store layout: one commit-log root holds three tables (all folded
    * by [[maintainNearDupStore]]):
    *
    * {{{
    * store/_log/...            numbered manifests (truth; the LSH config
    *                           and the replay high-water mark ride meta)
    * store/sigs/batch=<id>/    admitted MinHash signatures
    * store/bands/batch=<id>/   their exploded LSH band keys
    * store/buckets/batch=<id>/ partial bucket counts per batch
    * }}}
    *
    * ONE manifest admits a batch's signatures, band keys and bucket
    * partials ATOMICALLY, and commits carry
    * [[graft.operators.CommitLog.SerialToken]], so any concurrent writer
    * (second stream, backfill, maintenance) loses the CAS race loudly
    * with a ConflictException instead of corrupting admissions — the
    * foreachBatch retry then replays the batch against the new tip.
    * Reads pin the version the admission decisions were computed
    * against, so a fold landing mid-batch cannot shift history under
    * the verify join. Replays retire-and-replace the batch's own dirs in
    * the same commit. A legacy store (signatures in root-level
    * `batch=<id>` dirs, with or without the `<store>.bands` /
    * `<store>.buckets` sibling roots) is refused before anything touches
    * it: rebuild it by replay.
    *
    * The band/bucket tables are what keep the per-batch cost from
    * growing with corpus history: without them every trigger re-exploded
    * the ENTIRE signature store (x bands) and re-aggregated the bucket
    * histogram from scratch — O(history) work per micro-batch, growing
    * forever under trickle ingest. Band keys and bucket counts of an
    * admitted batch never change, so they are written once at admission
    * and only READ afterwards; after a maintenance fold the bucket scan
    * is O(distinct buckets + recent deltas), not O(all signatures ever).
    * The verify join's history read pushes the candidate id set into
    * the parquet scan as an In filter when it is small (the common case
    * — bounded by batch size × bucket cap): maintenance folds SORT the
    * store by graft_id, so row-group min/max stats skip the bulk of a
    * years-old store and the read approximates an indexed fetch. Above
    * `maxVerifyFetch` ids it falls back to the full-scan join. */
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
    import graft.operators.CommitLog
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)

    refuseLegacyNearDupStore(fs, store)
    CommitLog.adopt(spark, store)
    val baseV = CommitLog.currentVersion(fs, store)
    val tipMeta = CommitLog.tipMeta(fs, store)
    if (baseV > 0) requireLogConfig(tipMeta, storePath, numHashes, bands, shingleN)
    requireReplayable(batchId,
      tipMeta.get("maxBatch").map(_.toLong).getOrElse(-1L), storePath)

    // one fused text→signature pass over the batch
    val sigB = batch.select(
      col(idCol).as("graft_id"),
      minhashTextSignature(col(textCol), shingleN, numHashes).as("graft_sig"))
      .persist()
    val bandB = sigB.select(col("graft_id"),
      explode(bandKeys(col("graft_sig"), bands, numHashes)).as("graft_band"))
      .select(col("graft_id"), col("graft_band.band"), col("graft_band.bucket"))

    // history = the pinned snapshot at baseV, minus the current batch
    // (same-batch exclusion keeps replays idempotent — a prior attempt's
    // own rows must not flag the recomputed batch as dups of itself)
    val sigsHist = CommitLog.readSub(spark, store, "sigs", Some(baseV))
      .map(_.filter(col("batch") =!= batchId))
    val hasHistory = sigsHist.isDefined
    val history = sigsHist
      .map(_.select(col("graft_id").as("hist_id"), col("graft_sig").as("hist_sig")))
      .getOrElse(sigB
        .select(col("graft_id").as("hist_id"), col("graft_sig").as("hist_sig"))
        .limit(0))
      .persist()
    val bandH = CommitLog.readSub(spark, store, "bands", Some(baseV))
      .map(_.filter(col("batch") =!= batchId).select("hist_id", "band", "bucket"))
      .getOrElse(history
        .select(col("hist_id"), lit(0).as("band"), lit(0L).as("bucket"))
        .limit(0))
    val smallBuckets = CommitLog.readSub(spark, store, "buckets", Some(baseV))
      .map(_.filter(col("batch") =!= batchId)
        .groupBy("band", "bucket").agg(sum("n").as("n")))
      .getOrElse(bandH.groupBy("band", "bucket").agg(count(lit(1)).as("n")))
      .filter(col("n") <= maxBucket)
      .select("band", "bucket")

    val (admitted, releaseCore) = nearDupAdmitCore(
      batch, idCol, textCol, sigB, bandB, history, bandH, smallBuckets,
      // manifest-stats file pruning on top of the pushed range cover:
      // the candidate ids' gap-split ranges drop whole files whose
      // recorded graft_id range cannot match
      candIds => prunedRead(spark, store, Some("sigs"), baseV, idRanges(candIds))
        .map(_.filter(col("batch") =!= batchId))
        .getOrElse(history.select(
          col("hist_id").as("graft_id"), col("hist_sig").as("graft_sig"))
          .limit(0)),
      hasHistory, numHashes, bands, shingleN, threshold, maxVerifyFetch)

    // stage all three tables, publish ONE manifest. The writes also
    // materialize the admitted cache, so the inner caches release here.
    val staging = graft.operators.Swap.Suffix.staging(
      store, graft.operators.Swap.newTag())
    val sigA = sigB
      .join(admitted.select(col(idCol).as("graft_id")), Seq("graft_id"), "left_semi")
      .persist()
    sigA.write.parquet(
      new org.apache.hadoop.fs.Path(staging, s"sigs/batch=$batchId").toString)
    val bandA = sigA.select(col("graft_id").as("hist_id"),
      explode(bandKeys(col("graft_sig"), bands, numHashes)).as("graft_band"))
      .select(col("hist_id"), col("graft_band.band"), col("graft_band.bucket"))
    bandA.write.parquet(
      new org.apache.hadoop.fs.Path(staging, s"bands/batch=$batchId").toString)
    bandA.groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      .write.parquet(
        new org.apache.hadoop.fs.Path(staging, s"buckets/batch=$batchId").toString)
    CommitLog.commitStaged(spark, store, staging, baseV,
      retireNames = Seq(
        s"sigs/batch=$batchId", s"bands/batch=$batchId", s"buckets/batch=$batchId"),
      wholeStore = false,
      meta = nearDupLogMeta(numHashes, bands, shingleN, batchId),
      extraTouched = Seq(CommitLog.SerialToken),
      statsCol = Some("graft_id")) // band/bucket files lack it → no stats
    sigA.unpersist()
    sigB.unpersist()
    history.unpersist()
    releaseCore()
    admitted
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

  /** The candidate → verify → admit middle of [[applyNearDupBatch]] —
    * everything between "history frames are in hand" and "write the
    * admitted rows".
    *
    * History signatures for the verify join: the candidate id set is
    * bounded by batch size × maxBucket, so in the common case it is tiny
    * relative to the store — push it into the parquet read (maintenance
    * folds sort the store by graft_id, so row-group min/max stats skip
    * the bulk of years-old history and the read approximates an indexed
    * fetch). Above spark.sql.parquet.pushdown.inFilterThreshold an In
    * predicate pushes only as ONE [min,max] range, which prunes nothing
    * when candidates span the id space — so a gap-split OR-of-BETWEEN
    * cover over the sorted ids is pushed alongside the exact In filter;
    * the cover is a superset, the exact In evaluates residually. Above
    * `maxVerifyFetch` ids, fall back to the full-scan join against
    * `history`.
    *
    * Returns (admitted [persisted], release) — release drops the core's
    * inner caches (the history candidates and the within-batch pair
    * frame); the caller runs it after its writes materialize admitted. */
  private def nearDupAdmitCore(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      sigB: DataFrame,
      bandB: DataFrame,
      history: DataFrame,
      bandH: DataFrame,
      smallBuckets: DataFrame,
      histSigs: Array[Any] => DataFrame,
      hasHistory: Boolean,
      numHashes: Int,
      bands: Int,
      shingleN: Int,
      threshold: Double,
      maxVerifyFetch: Int): (DataFrame, () => Unit) = {
    val candidates = bandB
      .join(bandH.join(smallBuckets, Seq("band", "bucket"), "left_semi"),
        Seq("band", "bucket"))
      .select("graft_id", "hist_id").distinct()
      .persist() // read twice: id-set probe + verify join

    // cap+1 probe, overflow-safe for maxVerifyFetch = Int.MaxValue
    val capProbe = math.min(maxVerifyFetch.toLong + 1L, Int.MaxValue.toLong).toInt
    val candIds =
      if (hasHistory) candidates.select("hist_id").distinct().limit(capProbe)
        .collect().map(_.get(0))
      else Array.empty[Any]
    val histVerify =
      if (!hasHistory || candIds.isEmpty) history.limit(0)
      else if (candIds.length <= maxVerifyFetch) {
        val cover = idCoverFilter(col("graft_id"), candIds)
        histSigs(candIds)
          .where(cover.getOrElse(lit(true)))
          .filter(col("graft_id").isInCollection(candIds.toSeq))
          .select(col("graft_id").as("hist_id"), col("graft_sig").as("hist_sig"))
      } else history

    // MinHash estimator: fraction of agreeing signature positions
    val agree = size(filter(
      zip_with(col("graft_sig"), col("hist_sig"), (a, b) => a === b),
      x => x)).cast("double") / numHashes
    val dupOfHistory = candidates
      .join(sigB, "graft_id")
      .join(histVerify, "hist_id")
      .filter(agree >= threshold)
      .select(col("graft_id").as(idCol)).distinct()

    // within-batch: the text is in hand — exact-verified LSH pairs, min
    // id survives (deterministic, matching Dedup.dedupNear's convention)
    val batchPairs = graft.operators.Dedup.minhashNearDup(
      batch, idCol, textCol, numHashes, bands, shingleN, threshold)
    val dupInBatch = batchPairs.select(col("id_b").as(idCol)).distinct()

    val admitted = batch
      .join(dupOfHistory.unionByName(dupInBatch).distinct(), Seq(idCol), "left_anti")
      .persist()
    (admitted, () => { candidates.unpersist(); batchPairs.unpersist(); () })
  }

  /** Read a log store (or one sub-table) at a pinned version from an
    * explicitly PRUNED file list: files whose manifest-recorded
    * stats-column range overlaps none of the candidate `ranges` are
    * skipped before any footer is opened — manifest-level pruning on
    * top of the row-group pruning the pushed filters already do. Files
    * without stats are always kept (conservative). None when no file
    * survives — no file can contain the candidates. */
  private[graft] def prunedRead(
      spark: org.apache.spark.sql.SparkSession,
      store: org.apache.hadoop.fs.Path,
      sub: Option[String],
      version: Long,
      ranges: Option[Seq[(Any, Any)]]): Option[DataFrame] = {
    import graft.operators.CommitLog
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
      val basePath = sub.fold(store)(s0 => new org.apache.hadoop.fs.Path(store, s0))
      Some(spark.read.option("basePath", basePath.toString)
        .parquet(kept.map { case (f, _) =>
          new org.apache.hadoop.fs.Path(store, f).toString }: _*))
    }
  }

  /** Manifest-meta keys of a near-dup store: the LSH config (validated
    * per batch in O(1)) and the admission high-water mark (surviving
    * folds: after a fold only `batch=-1` is live, but the manifest still
    * knows the newest admitted batch). Carried forward on EVERY commit,
    * so tipMeta always answers. */
  private def nearDupLogMeta(
      numHashes: Int, bands: Int, shingleN: Int, maxBatch: Long) =
    Map(
      "numHashes" -> numHashes.toString,
      "bands" -> bands.toString,
      "shingleN" -> shingleN.toString,
      "maxBatch" -> maxBatch.toString)

  private def requireLogConfig(
      meta: Map[String, String],
      storePath: String,
      numHashes: Int,
      bands: Int,
      shingleN: Int): Unit =
    require(
      meta.get("numHashes").contains(numHashes.toString) &&
        meta.get("bands").contains(bands.toString) &&
        meta.get("shingleN").contains(shingleN.toString),
      s"signature store at $storePath was built with " +
        s"(numHashes=${meta.getOrElse("numHashes", "?")}, " +
        s"bands=${meta.getOrElse("bands", "?")}, " +
        s"shingleN=${meta.getOrElse("shingleN", "?")}), this stream uses " +
        s"($numHashes, $bands, $shingleN) — rebuild the store or match " +
        "the configuration")

  private def requireReplayable(
      batchId: Long, maxBatch: Long, storePath: String): Unit =
    require(batchId >= maxBatch,
      s"out-of-protocol replay: batch $batchId is older than the newest " +
        s"admitted batch $maxBatch in $storePath — its prior admissions may " +
        "already be folded into batch=-1, which would silently flag the " +
        "replay as duplicates of itself; only the latest batch may replay " +
        "(reset the checkpoint and store consistently, or rebuild the store)")

  /** The newest admitted batch of a single-root admission store (exact,
    * embedding, hamming, frame-hamming): the manifest's `maxBatch`, or —
    * on a store adopted from the legacy layout, which recorded none — the
    * highest top-level `batch=<id>` dir in the snapshot. A fold keeps the
    * newest batch in its own dir, so the derivation survives folds. -1
    * for an empty store. */
  private def admittedMaxBatch(
      fs: org.apache.hadoop.fs.FileSystem,
      store: org.apache.hadoop.fs.Path,
      meta: Map[String, String],
      baseV: Long): Long =
    meta.get("maxBatch").map(_.toLong).getOrElse(
      graft.operators.CommitLog.snapshotFiles(fs, store, baseV)
        .flatMap(_.split('/').headOption).distinct
        .filter(_.startsWith("batch="))
        .flatMap(n => scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
        .foldLeft(-1L)(math.max))

  /** Adopt a single-root admission store: its legacy layout (top-level
    * `batch=<id>` dirs) is the log layout, and the config its legacy
    * writer pinned in the `<store>.meta` sidecar (planes/dim, chunks)
    * seeds v1's meta, where the log layout keeps it. */
  private def adoptSingleRootStore(
      spark: org.apache.spark.sql.SparkSession,
      store: org.apache.hadoop.fs.Path): Unit =
    graft.operators.CommitLog.adopt(spark, store,
      Some(new org.apache.hadoop.fs.Path(store.toString + ".meta")))

  /** A MinHash admission store written before the log kept its
    * signatures in root-level `batch=<id>` dirs, with its band and bucket
    * tables as sibling roots (`<store>.bands`, `<store>.buckets`) or,
    * older still, not at all. The log layout keeps the three tables as
    * `sigs/`, `bands/` and `buckets/` sub-tables, so neither legacy
    * layout can be adopted file for file: it is refused before anything
    * touches the store. */
  private def refuseLegacyNearDupStore(
      fs: org.apache.hadoop.fs.FileSystem,
      store: org.apache.hadoop.fs.Path): Unit = {
    if (graft.operators.CommitLog.isLog(fs, store)) return
    val siblings = Seq(".bands", ".buckets")
      .map(s => new org.apache.hadoop.fs.Path(store.toString + s))
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

  /** Maintenance for a [[nearDupStream]] store: fold every batch
    * partition except the latest into a single sorted `batch=-1` dir
    * (merging with the previous fold) in each of the three tables.
    * Trickle ingest otherwise accumulates one tiny dir per trigger
    * forever — the listing/task-scheduling small-file failure mode — and
    * the bucket-histogram partials would re-sum one partial per trigger
    * ever. The LATEST batch keeps its own partition: under at-least-once
    * foreachBatch only the most recent batch can replay, and a replay
    * needs its own partition excludable (batch =!= id) and deletable;
    * folded older batches keep working because batch=-1 passes the
    * exclusion filter for every live id.
    *
    * Crash posture: the three folds retire and replace their batch dirs
    * in ONE manifest, so there is no state where one table is folded and
    * another is not. Signature and band folds are content-preserving and
    * row-count-verified from parquet footers before the commit; the
    * bucket fold re-aggregates partials (one row per bucket afterwards)
    * so its row count legitimately shrinks. */
  def maintainNearDupStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    import graft.operators.CommitLog
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    refuseLegacyNearDupStore(fs, store)
    CommitLog.adopt(spark, store)
    val baseV = CommitLog.currentVersion(fs, store)
    if (baseV == 0) return
    val files = CommitLog.snapshotFiles(fs, store, baseV)
    def batchIds(sub: String): Seq[Long] = files
      .filter(_.startsWith(sub + "/"))
      .flatMap(_.split('/').lift(1))
      .distinct
      .flatMap(n =>
        scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
    val ids = batchIds("sigs")
    val live = ids.filter(_ >= 0)
    if (live.isEmpty) return
    val maxId = live.max
    val foldIds = ids.filter(_ < maxId).sorted // includes a previous -1
    if (!foldIds.exists(_ >= 0)) return        // only the fold itself left

    val staging = graft.operators.Swap.Suffix.staging(
      store, graft.operators.Swap.newTag())
    def foldSub(
        sub: String,
        reagg: Option[DataFrame => DataFrame],
        sortCols: Seq[String]): Unit = {
      val inFiles = files.filter(f =>
        foldIds.exists(i => f.startsWith(s"$sub/batch=$i/")))
      if (inFiles.isEmpty) return
      val bytes = inFiles
        .map(f => fs.getFileStatus(new org.apache.hadoop.fs.Path(store, f)).getLen)
        .sum
      val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      val folded = CommitLog.readSub(spark, store, sub, Some(baseV)).get
        .filter(col("batch").isin(foldIds: _*)).drop("batch")
      val combined = reagg.fold(folded)(f => f(folded))
      // range-partition + sort (not a global sort): each output file
      // holds a contiguous key range for row-group pruning + compression
      val out = combined
        .repartitionByRange(nOut, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
      val dest = new org.apache.hadoop.fs.Path(staging, s"$sub/batch=-1")
      out.write.parquet(dest.toString)
      if (reagg.isEmpty) {
        val before = graft.operators.Compact.footerRowsOf(spark,
          inFiles.map(new org.apache.hadoop.fs.Path(store, _)))
        val after = graft.operators.Compact.footerRowsIn(spark, Seq(dest))
        if (before != after) {
          fs.delete(staging, true)
          throw new IllegalStateException(
            s"fold row mismatch for $storePath/$sub: $before -> $after " +
              "(store untouched)")
        }
      }
    }
    foldSub("sigs", None, Seq("graft_id"))
    foldSub("bands", None, Seq("band", "bucket", "hist_id"))
    foldSub("buckets",
      Some(df => df.groupBy("band", "bucket").agg(sum("n").as("n"))),
      Seq("band", "bucket"))
    CommitLog.commitStaged(spark, store, staging, baseV,
      retireNames = foldIds.flatMap(i =>
        Seq(s"sigs/batch=$i", s"bands/batch=$i", s"buckets/batch=$i")),
      wholeStore = false,
      meta = CommitLog.tipMeta(fs, store), // config + maxBatch carry forward
      extraTouched = Seq(CommitLog.SerialToken),
      statsCol = Some("graft_id")) // sorted fold → tight per-file ranges
    // trickle ingest adds a version per trigger and a fold retires whole
    // batch dirs; without a vacuum the store never physically shrinks —
    // maintenance is the natural cadence (retention still protects
    // recently pinned readers)
    CommitLog.vacuum(spark, store)
    ()
  }

  /** Incremental corpus EXACT dedup: each micro-batch is checked against
    * a persistent fingerprint store of everything ever admitted — the
    * restart-survivable form of `dropDuplicates`, whose state dies with
    * its checkpoint. Same store protocol as [[nearDupStream]] minus the
    * LSH machinery: admitted (id, md5-of-text) rows land in a
    * `batch=<id>` partition replaced per attempt (exactly-once
    * admissions without a marker), maintenance folds trigger-grain
    * partitions into `batch=-1` SORTED by fingerprint (per-batch cost
    * stays O(compacted + deltas), and the history lookup's pushed
    * fingerprint range hits tight row groups), and a replay older than
    * the newest admitted batch fails loudly before anything is deleted.
    *
    * The store holds fingerprints only — fixed-width per doc, never
    * text; at 100 TB it is the only thing that persists. Pass
    * pre-normalized text (TextFunctions.normalize) when byte-identical
    * is too strict a key. */
  def exactDedupStream(
      docs: DataFrame,
      storePath: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      maintainEvery: Int = 32)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = applyExactDedupBatch(batch, storePath, batchId, idCol, textCol)
        try sink(admitted, batchId)
        finally admitted.unpersist()
        if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0)
          maintainExactDedupStore(batch.sparkSession, storePath)
      }
      .start()

  /** The per-batch step behind [[exactDedupStream]] (driveable directly
    * in tests and backfills). Returns the admitted rows of `batch`.
    *
    * History lookup: the batch's own distinct fingerprints are the
    * candidate set, bounded by batch size — below `maxFetch` they push
    * into the parquet read as an In filter plus a min/max range cover
    * (maintenance folds sort the store by fingerprint, so row-group
    * stats skip the bulk of a years-old store); above it, a full-scan
    * semi-join. Within the batch the minimum id per fingerprint
    * survives, matching Dedup.dedupExact's deterministic convention. */
  def applyExactDedupBatch(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxFetch: Int = 100000): DataFrame = {
    import graft.operators.CommitLog
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)

    adoptSingleRootStore(spark, store)
    val baseV = CommitLog.currentVersion(fs, store)
    requireReplayable(batchId,
      admittedMaxBatch(fs, store, CommitLog.tipMeta(fs, store), baseV),
      storePath)
    // pinned snapshot minus the current batch (replay idempotence)
    val histAll = CommitLog.read(spark, store, Some(baseV))
      .map(_.filter(col("batch") =!= batchId))
    val hasHistory = histAll.isDefined

    val fpB = batch.select(
      col(idCol).as("graft_id"),
      md5(col(textCol).cast("string")).as("graft_fp"))
      .persist()

    // cap+1 probe mirrors the near-dup verify fetch
    val capProbe = math.min(maxFetch.toLong + 1L, Int.MaxValue.toLong).toInt
    val batchFps: Array[Any] =
      if (hasHistory) fpB.select("graft_fp").distinct().limit(capProbe)
        .collect().map(_.get(0))
      else Array.empty[Any]
    val history =
      if (!hasHistory || batchFps.isEmpty) fpB.select("graft_fp").limit(0)
      else if (batchFps.length <= maxFetch) {
        val cover = idCoverFilter(col("graft_fp"), batchFps)
        // manifest-stats file pruning first (folds sort by fingerprint,
        // so per-file ranges are tight), pushed filters inside the kept
        // files second
        prunedRead(spark, store, None, baseV, idRanges(batchFps)) match {
          case None => fpB.select("graft_fp").limit(0)
          case Some(df) => df
            .filter(col("batch") =!= batchId)
            .where(cover.getOrElse(lit(true)))
            .filter(col("graft_fp").isInCollection(batchFps.toSeq))
            .select("graft_fp")
        }
      } else histAll.get.select("graft_fp")

    val dupOfHistory = fpB
      .join(history, Seq("graft_fp"), "left_semi")
      .select(col("graft_id").as(idCol))
    // within-batch: min id per fingerprint survives
    val dupInBatch = fpB
      .join(fpB.groupBy("graft_fp").agg(min("graft_id").as("graft_keep")),
        Seq("graft_fp"))
      .filter(col("graft_id") =!= col("graft_keep"))
      .select(col("graft_id").as(idCol))

    val admitted = batch
      .join(dupOfHistory.unionByName(dupInBatch).distinct(), Seq(idCol), "left_anti")
      .persist()
    val staging = graft.operators.Swap.Suffix.staging(
      store, graft.operators.Swap.newTag())
    fpB.join(admitted.select(col(idCol).as("graft_id")), Seq("graft_id"), "left_semi")
      .write.parquet(
        new org.apache.hadoop.fs.Path(staging, s"batch=$batchId").toString)
    CommitLog.commitStaged(spark, store, staging, baseV,
      retireNames = Seq(s"batch=$batchId"),
      wholeStore = false,
      meta = Map("maxBatch" -> batchId.toString),
      extraTouched = Seq(CommitLog.SerialToken),
      statsCol = Some("graft_fp"))
    fpB.unpersist()
    admitted
  }

  /** Maintenance for an [[exactDedupStream]] store: fold every batch
    * partition except the latest into `batch=-1`, sorted by fingerprint
    * (row-group-prunable history lookups, better compression). Same
    * crash posture as the near-dup folds: one manifest, footer
    * row-count parity before it. */
  def maintainExactDedupStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L << 20): Unit =
    foldLogStoreBatches(spark, storePath, targetFileBytes,
      sortCols = Seq("graft_fp"), statsCol = Some("graft_fp"))

  /** Incremental EMBEDDING near-dup dedup (r17 verdict item 5 — the
    * semantic twin of [[nearDupStream]] / [[exactDedupStream]]): each
    * micro-batch of (id, embedding) rows is checked against a
    * persistent vector store of everything ever admitted; rows whose
    * cosine to any admitted vector reaches `threshold` are dropped (and
    * within the batch the larger id of a qualifying pair drops — the
    * same pairwise convention as the text stream), and the admitted
    * rows' vectors + replayable hyperplane buckets append to the store.
    *
    * Unlike the text store (whose cross-batch similarity is a MinHash
    * ESTIMATE), the vector store holds the embeddings themselves —
    * fixed-width per doc — so cross-batch cosine is EXACT and the
    * streamed admission decomposes cleanly: a row's fate depends only
    * on (row, admitted history), which is what the batch≡stream parity
    * spec pins. Candidate blocking rides the SAME replayable hyperplane
    * buckets as the batch operator ([[graft.operators.Dedup
    * .embeddingNearDupReplayable]]); per-trigger history cost is
    * O(bucket mates of the batch), pushed into the parquet read as an
    * In + range-cover filter over the bucket column (maintenance folds
    * sort the store by bucket, so row-group stats skip the bulk of an
    * old store).
    *
    * Store protocol = the signature-store protocol verbatim: admitted
    * rows land in a `batch=<id>` hive partition REPLACED per attempt
    * (exactly-once admissions without a marker), only the newest batch
    * may replay (guarded loudly), maintenance folds old partitions into
    * `batch=-1`, and the manifest meta pins (planes, dim) — a store
    * bucketed under different planes would block inconsistently, and a
    * different dim would silently truncate every dot product. History
    * reads pin a snapshot and prune files by the manifest's per-file
    * bucket range. */
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
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = applyEmbeddingNearDupBatch(
          batch, storePath, batchId, idCol, vecCol, threshold, planes)
        try sink(admitted, batchId)
        finally admitted.unpersist()
        if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0)
          maintainEmbeddingNearDupStore(batch.sparkSession, storePath)
      }
      .start()

  /** The per-batch step behind [[embeddingNearDupStream]] (driveable
    * directly in tests and backfills). Returns the admitted rows of
    * `batch` (persisted — the caller unpersists after its sink). */
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
    import graft.operators.CommitLog
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)

    adoptSingleRootStore(spark, store)
    val baseV = CommitLog.currentVersion(fs, store)
    val meta = CommitLog.tipMeta(fs, store)
    requireReplayable(batchId, admittedMaxBatch(fs, store, meta, baseV), storePath)

    val dim = {
      val r = batch.agg(max(size(col(vecCol)))).head
      if (r.isNullAt(0)) 0 else r.getInt(0)
    }
    val pinnedDim = meta.get("dim").map(_.toInt)
    require(meta.get("planes").forall(_.toInt == planes) &&
      (dim == 0 || pinnedDim.forall(_ == dim)),
      s"embedding store at $storePath was built with " +
        s"(planes=${meta.getOrElse("planes", "?")}, " +
        s"dim=${meta.getOrElse("dim", "?")}), this stream uses " +
        s"(planes=$planes, dim=$dim) — rebuild the store or match the " +
        "configuration")

    val histAll = CommitLog.read(spark, store, Some(baseV))
      .map(_.filter(col("batch") =!= batchId))
    val hasHistory = histAll.isDefined

    val sigB = batch.select(
      col(idCol).as("graft_id"),
      col(vecCol).as("graft_vec"),
      (if (dim == 0) lit(0L)
       else graft.operators.Similarity
         .replayableHyperplaneBucket(col(vecCol), planes, dim))
        .as("graft_bucket"))
      .persist()

    val histRead: Array[Any] => DataFrame = buckets => {
      val cover = idCoverFilter(col("graft_bucket"), buckets)
      prunedRead(spark, store, None, baseV, idRanges(buckets)) match {
        case None => sigB.limit(0)
        case Some(df) => df
          .filter(col("batch") =!= batchId)
          .where(cover.getOrElse(lit(true)))
          .filter(col("graft_bucket").isInCollection(buckets.toSeq))
      }
    }
    val admitted = embeddingAdmitCore(
      batch, idCol, sigB, histRead, () => histAll.get, hasHistory,
      threshold, maxBucketFetch)
    val staging = graft.operators.Swap.Suffix.staging(
      store, graft.operators.Swap.newTag())
    sigB.join(admitted.select(col(idCol).as("graft_id")), Seq("graft_id"), "left_semi")
      .write.parquet(
        new org.apache.hadoop.fs.Path(staging, s"batch=$batchId").toString)
    CommitLog.commitStaged(spark, store, staging, baseV,
      retireNames = Seq(s"batch=$batchId"),
      wholeStore = false,
      meta = Map("maxBatch" -> batchId.toString,
        "planes" -> planes.toString) ++
        (pinnedDim.orElse(if (dim > 0) Some(dim) else None)
          .map(d => "dim" -> d.toString)),
      extraTouched = Seq(CommitLog.SerialToken),
      statsCol = Some("graft_bucket"))
    sigB.unpersist()
    admitted
  }

  /** The candidate → verify → admit middle of
    * [[applyEmbeddingNearDupBatch]]. Cross-batch verify is EXACT
    * cosine against bucket-mate history vectors (round-4, the
    * [[graft.operators.Similarity.exactPairs]] contract); within-batch
    * the larger id of a qualifying pair drops. */
  private def embeddingAdmitCore(
      batch: DataFrame,
      idCol: String,
      sigB: DataFrame,
      histRead: Array[Any] => DataFrame,
      histFull: () => DataFrame,
      hasHistory: Boolean,
      threshold: Double,
      maxBucketFetch: Int): DataFrame = {
    import graft.operators.Similarity
    val capProbe = math.min(maxBucketFetch.toLong + 1L, Int.MaxValue.toLong).toInt
    val batchBuckets: Array[Any] =
      if (hasHistory) sigB.select("graft_bucket").distinct().limit(capProbe)
        .collect().map(_.get(0))
      else Array.empty[Any]
    val history =
      if (!hasHistory || batchBuckets.isEmpty)
        sigB.select(col("graft_id").as("hist_id"),
          col("graft_vec").as("hist_vec"),
          col("graft_bucket").as("hist_bucket")).limit(0)
      else {
        val src = if (batchBuckets.length <= maxBucketFetch)
          histRead(batchBuckets) else histFull()
        src.select(col("graft_id").as("hist_id"),
          col("graft_vec").as("hist_vec"),
          col("graft_bucket").as("hist_bucket"))
      }
    val dupOfHistory = sigB
      .join(history, col("graft_bucket") === col("hist_bucket"))
      .filter(round(Similarity.cosine(col("graft_vec"), col("hist_vec")), 4)
        >= threshold)
      .select(col("graft_id").as(idCol)).distinct()
    // within-batch: bucket-blocked exact pairs, larger id drops (the
    // text stream's pairwise convention — Dedup.dedupNear's id_b rule)
    val dupInBatch = sigB.as("l")
      .join(sigB.as("r"),
        col("l.graft_bucket") === col("r.graft_bucket") &&
          col("l.graft_id") < col("r.graft_id"))
      .filter(round(Similarity.cosine(col("l.graft_vec"), col("r.graft_vec")), 4)
        >= threshold)
      .select(col("r.graft_id").as(idCol)).distinct()
    batch
      .join(dupOfHistory.unionByName(dupInBatch).distinct(), Seq(idCol), "left_anti")
      .persist()
  }

  /** Maintenance for an [[embeddingNearDupStream]] store: fold every
    * batch partition except the latest into `batch=-1`, sorted by
    * bucket (the history lookup's pushed bucket cover then hits tight
    * row groups) — same crash posture as the text-store folds. */
  def maintainEmbeddingNearDupStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L << 20): Unit =
    foldLogStoreBatches(spark, storePath, targetFileBytes,
      sortCols = Seq("graft_bucket", "graft_id"), statsCol = Some("graft_bucket"))

  /** Streaming near-dup admission over 64-bit HAMMING fingerprints — the
    * media/simhash twin of [[embeddingNearDupStream]]: image dHash/pHash,
    * audio energy fingerprints and text SimHash (anything that feeds
    * [[graft.operators.Dedup.hammingNearDupPairs]]) gain a
    * restart-survivable ingest store. Each micro-batch is checked against
    * every fingerprint ADMITTED so far; a row drops when its hash is
    * within `maxHamming` of an admitted hash (cross-batch is EXACT —
    * `bit_count(xor)` on the stored 64-bit values, no estimate) or of a
    * smaller-id row in its own batch (the pairwise larger-id-drops
    * convention shared with the text and embedding stores).
    *
    * The store exploits the measured saturation property of perceptual
    * hashes (BandAudit, r18: the dHash SUPPORT grows far slower than the
    * corpus): admission only needs the DISTINCT admitted hash values —
    * an identical later copy is hamming-0 of its predecessor and drops,
    * so the store is support-sized BY CONSTRUCTION and stops growing
    * when the fingerprint manifold saturates, no matter how many rows
    * stream through. Rows are the admitted support exploded into
    * multi-index band rows (packed (chunk, value) key in `graft_bucket`,
    * exact keys only); the PROBE side carries the radius-1 flip
    * expansion, so per-trigger history cost is O(bucket mates of the
    * batch support), pushed into the parquet read as an In + range-cover
    * filter over the bucket column (maintenance folds sort by bucket).
    * Within-batch dedup is the distinct-first collapse (class members
    * drop against their min-id representative; representative pairs run
    * over the support only — never a member-level pair expansion).
    *
    * Store protocol = the signature-store protocol verbatim: admitted
    * rows land in a `batch=<id>` hive partition REPLACED per attempt,
    * only the newest batch may replay (guarded loudly), maintenance
    * folds old partitions into `batch=-1`, and the manifest meta pins
    * `chunks` (the packed band-key layout — a store banded under a
    * different chunk split would probe garbage silently). `maxHamming`
    * is a per-call semantic knob like the embedding store's `threshold`,
    * not a layout property. Rows with a NULL fingerprint never pair and
    * are admitted (the batch core's convention). */
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
    fps.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = applyHammingNearDupBatch(
          batch, storePath, batchId, idCol, hashCol, maxHamming, chunks)
        try sink(admitted, batchId)
        finally admitted.unpersist()
        if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0)
          maintainHammingNearDupStore(batch.sparkSession, storePath)
      }
      .start()

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

  /** The per-batch step behind [[hammingNearDupStream]] (driveable
    * directly in tests and backfills). Returns the admitted rows of
    * `batch` (persisted — the caller unpersists after its sink). */
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
    import graft.operators.CommitLog
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)

    adoptSingleRootStore(spark, store)
    val baseV = CommitLog.currentVersion(fs, store)
    val meta = CommitLog.tipMeta(fs, store)
    requireReplayable(batchId, admittedMaxBatch(fs, store, meta, baseV), storePath)
    require(meta.get("chunks").forall(_.toInt == nChunks),
      s"hamming store at $storePath was banded with " +
        s"chunks=${meta.getOrElse("chunks", "?")}, this stream uses " +
        s"chunks=$nChunks — rebuild the store or match the layout")

    val histAll = CommitLog.read(spark, store, Some(baseV))
      .map(_.filter(col("batch") =!= batchId))
    val hasHistory = histAll.isDefined

    val histRead: Array[Any] => DataFrame = buckets => {
      val cover = idCoverFilter(col("graft_bucket"), buckets)
      prunedRead(spark, store, None, baseV, idRanges(buckets)) match {
        case None => batch.select(col(idCol).as("graft_id"),
          col(hashCol).as("graft_sh"), lit(0L).as("graft_bucket")).limit(0)
        case Some(df) => df
          .filter(col("batch") =!= batchId)
          .where(cover.getOrElse(lit(true)))
          .filter(col("graft_bucket").isInCollection(buckets.toSeq))
      }
    }
    val admitted = hammingAdmitCore(
      batch, idCol, hashCol, histRead, () => histAll.get, hasHistory,
      maxHamming, nChunks, maxBucketFetch)
    val staging = graft.operators.Swap.Suffix.staging(
      store, graft.operators.Swap.newTag())
    admittedBandRows(admitted, idCol, hashCol, nChunks)
      .write.parquet(
        new org.apache.hadoop.fs.Path(staging, s"batch=$batchId").toString)
    CommitLog.commitStaged(spark, store, staging, baseV,
      retireNames = Seq(s"batch=$batchId"),
      wholeStore = false,
      meta = Map("maxBatch" -> batchId.toString,
        "chunks" -> nChunks.toString),
      extraTouched = Seq(CommitLog.SerialToken),
      statsCol = Some("graft_bucket"))
    admitted
  }

  /** The candidate → verify → admit middle of
    * [[applyHammingNearDupBatch]]. Cross-batch: the batch SUPPORT
    * (distinct hash values) probes bucket-mate history with the radius-1
    * flip expansion, exact `bit_count(xor) <= maxHamming` verify, and
    * ids recover by a hash join (whole identical classes drop together).
    * Within-batch: distinct-first — non-representative class members
    * drop against their min-id representative (hamming 0), and the
    * support-level representative pairs drop their larger id. The union
    * equals the pairwise larger-id-drops convention exactly (a non-min
    * member always drops; a class min drops iff a smaller-id close row
    * exists, whose own class min is a smaller-id close REPRESENTATIVE). */
  private def hammingAdmitCore(
      batch: DataFrame,
      idCol: String,
      hashCol: String,
      histRead: Array[Any] => DataFrame,
      histFull: () => DataFrame,
      hasHistory: Boolean,
      maxHamming: Int,
      nChunks: Int,
      maxBucketFetch: Int): DataFrame = {
    val radius = maxHamming / nChunks
    val (repPairs, members, _) = graft.operators.Dedup.hammingRepPairs(
      batch, idCol, hashCol, maxHamming, nChunks)
    // the cross-batch probe needs only the batch's distinct hash VALUES
    val support = batch.filter(col(hashCol).isNotNull)
      .select(col(hashCol).as("graft_sh")).distinct()

    val probe = support
      .withColumn("graft_bucket",
        explode(hammingBandKeys(col("graft_sh"), nChunks, expand = radius == 1)))
      .select("graft_sh", "graft_bucket").distinct().persist()
    val capProbe = math.min(maxBucketFetch.toLong + 1L, Int.MaxValue.toLong).toInt
    val batchBuckets: Array[Any] =
      if (hasHistory) probe.select("graft_bucket").distinct().limit(capProbe)
        .collect().map(_.get(0))
      else Array.empty[Any]
    val dupOfHistory =
      if (!hasHistory || batchBuckets.isEmpty) batch.select(col(idCol)).limit(0)
      else {
        val src = if (batchBuckets.length <= maxBucketFetch)
          histRead(batchBuckets) else histFull()
        val dupHashes = probe
          .join(src.select(col("graft_bucket"), col("graft_sh").as("hist_sh")),
            Seq("graft_bucket"))
          .filter(graft.functions.TextFunctions
            .hamming64(col("graft_sh"), col("hist_sh")) <= maxHamming)
          .select("graft_sh").distinct()
        batch.join(dupHashes, batch(hashCol) === dupHashes("graft_sh"))
          .select(col(idCol)).distinct()
      }
    val dupInBatch = members
      .filter(col("graft_id") =!= col("graft_rep"))
      .select(col("graft_id").as(idCol))
      .unionByName(repPairs.select(col("rep_b").as(idCol)))
      .distinct()
    val admitted = batch
      .join(dupOfHistory.unionByName(dupInBatch).distinct(), Seq(idCol), "left_anti")
      .persist()
    admitted.count() // materialize before releasing the probe cache
    probe.unpersist()
    admitted
  }

  /** Admitted rows → store rows: the distinct admitted support exploded
    * into exact band keys (NULL fingerprints are admitted but have no
    * bands, so they never occupy the store). */
  private def admittedBandRows(
      admitted: DataFrame, idCol: String, hashCol: String,
      nChunks: Int): DataFrame =
    admitted
      .filter(col(hashCol).isNotNull)
      .select(col(idCol).as("graft_id"), col(hashCol).as("graft_sh"))
      .withColumn("graft_bucket",
        explode(hammingBandKeys(col("graft_sh"), nChunks, expand = false)))

  /** Maintenance for a [[hammingNearDupStream]] store: fold every batch
    * partition except the latest into `batch=-1`, sorted by bucket (the
    * history lookup's pushed bucket cover then hits tight row groups). */
  def maintainHammingNearDupStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L << 20): Unit =
    foldLogStoreBatches(spark, storePath, targetFileBytes,
      sortCols = Seq("graft_bucket", "graft_sh"), statsCol = Some("graft_bucket"))

  /** Streaming FRAME-LEVEL (positional) hamming near-dup admission — the
    * video twin of [[hammingNearDupStream]]: items are identified by a
    * SET of aligned 64-bit fingerprints (one per sampled frame index),
    * and an item is a near-dup of another iff at least
    * `minMatchedFrames` of its SAME-INDEX frames are within `maxHamming`
    * bits — exactly the batch
    * [[graft.multimodal.Multimodal.videoNearDupPairs]] contract
    * (alignment via `groupCols`). Input rows are FRAMES
    * `(idCol, posCol, hashCol)`; admission is decided per ITEM.
    *
    * The store holds the admitted items' frame fingerprints exploded to
    * multi-index band rows with the frame position FOLDED INTO the
    * bucket key (`pos · chunks · 2^width + packed(chunk, value)`), so
    * bucket equality implies frame alignment and the probe join needs
    * no extra predicate; positions must be non-negative (a sampled
    * frame index always is). Cross-batch verify is EXACT
    * `bit_count(xor)` per aligned frame; an item drops when ≥
    * `minMatchedFrames` of its frames match ONE admitted item (matches
    * spread across different admitted items do not sum — the pair
    * semantics of the batch operator). Unlike the scalar store there is
    * no cross-item support collapse: admitted items are mutually
    * non-dup by construction, so the store is admitted-items ×
    * frames × chunks rows. Items whose frames are all NULL (or absent)
    * never pair and are admitted; an item with fewer frames than
    * `minMatchedFrames` can never DROP (the batch contract — callers
    * sampling very short clips should lower the knob).
    *
    * Store protocol = the signature-store protocol verbatim (per-attempt
    * `batch=<id>` replacement, only-newest replay guard, bucket-sorted
    * `batch=-1` folds, manifest meta pins `chunks` — the key layout;
    * `maxHamming`/`minMatchedFrames` are per-call semantic knobs). */
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
    frames.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = applyFrameHammingNearDupBatch(
          batch, storePath, batchId, idCol, posCol, hashCol, maxHamming,
          minMatchedFrames, chunks)
        try sink(admitted, batchId)
        finally admitted.unpersist()
        if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0)
          maintainFrameHammingNearDupStore(batch.sparkSession, storePath)
      }
      .start()

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

  /** The per-batch step behind [[frameHammingNearDupStream]] (driveable
    * directly in tests and backfills). Returns the admitted FRAME rows
    * of `batch` (persisted — the caller unpersists after its sink). */
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
    import graft.operators.CommitLog
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)

    adoptSingleRootStore(spark, store)
    val baseV = CommitLog.currentVersion(fs, store)
    val meta = CommitLog.tipMeta(fs, store)
    requireReplayable(batchId, admittedMaxBatch(fs, store, meta, baseV), storePath)
    require(meta.get("chunks").forall(_.toInt == nChunks),
      s"frame hamming store at $storePath was banded with " +
        s"chunks=${meta.getOrElse("chunks", "?")}, this stream uses " +
        s"chunks=$nChunks — rebuild the store or match the layout")

    val histAll = CommitLog.read(spark, store, Some(baseV))
      .map(_.filter(col("batch") =!= batchId))
    val hasHistory = histAll.isDefined

    val histRead: Array[Any] => DataFrame = buckets => {
      val cover = idCoverFilter(col("graft_bucket"), buckets)
      prunedRead(spark, store, None, baseV, idRanges(buckets)) match {
        case None => batch.select(col(idCol).as("graft_id"),
          lit(0L).as("graft_pos"), col(hashCol).as("graft_sh"),
          lit(0L).as("graft_bucket")).limit(0)
        case Some(df) => df
          .filter(col("batch") =!= batchId)
          .where(cover.getOrElse(lit(true)))
          .filter(col("graft_bucket").isInCollection(buckets.toSeq))
      }
    }
    val admitted = frameHammingAdmitCore(
      batch, idCol, posCol, hashCol, histRead, () => histAll.get,
      hasHistory, maxHamming, minMatchedFrames, nChunks, maxBucketFetch)
    val staging = graft.operators.Swap.Suffix.staging(
      store, graft.operators.Swap.newTag())
    admittedFrameBandRows(admitted, idCol, posCol, hashCol, nChunks)
      .write.parquet(
        new org.apache.hadoop.fs.Path(staging, s"batch=$batchId").toString)
    CommitLog.commitStaged(spark, store, staging, baseV,
      retireNames = Seq(s"batch=$batchId"),
      wholeStore = false,
      meta = Map("maxBatch" -> batchId.toString,
        "chunks" -> nChunks.toString),
      extraTouched = Seq(CommitLog.SerialToken),
      statsCol = Some("graft_bucket"))
    admitted
  }

  /** The candidate → verify → admit middle of
    * [[applyFrameHammingNearDupBatch]]. Within-batch: the batch operator
    * verbatim — aligned-frame pairs via the distinct-first multi-index
    * join (`groupCols = posCol`), count per item pair, larger id drops
    * at ≥ `minMatchedFrames`. Cross-batch: batch frames probe
    * bucket-mate history frames (position folded into the bucket key),
    * exact per-frame hamming verify, then the SAME per-pair aligned
    * count against each admitted item. */
  private def frameHammingAdmitCore(
      batch: DataFrame,
      idCol: String,
      posCol: String,
      hashCol: String,
      histRead: Array[Any] => DataFrame,
      histFull: () => DataFrame,
      hasHistory: Boolean,
      maxHamming: Int,
      minMatchedFrames: Int,
      nChunks: Int,
      maxBucketFetch: Int): DataFrame = {
    val radius = maxHamming / nChunks
    val valid = batch.filter(col(hashCol).isNotNull && col(posCol).isNotNull)
    val dupInBatch = graft.operators.Dedup.hammingNearDupPairs(
        valid, idCol, hashCol, maxHamming, nChunks, groupCols = Seq(posCol))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("graft_m"))
      .filter(col("graft_m") >= minMatchedFrames)
      .select(col("id_b").as(idCol)).distinct()

    val probe = valid
      .select(col(idCol).as("graft_bid"),
        col(posCol).cast("long").as("graft_pos"),
        col(hashCol).as("graft_bh"))
      .withColumn("graft_bucket", explode(frameBandKeys(
        col("graft_bh"), col("graft_pos"), nChunks, expand = radius == 1)))
      .select("graft_bid", "graft_pos", "graft_bh", "graft_bucket")
      .distinct().persist()
    val capProbe = math.min(maxBucketFetch.toLong + 1L, Int.MaxValue.toLong).toInt
    val batchBuckets: Array[Any] =
      if (hasHistory) probe.select("graft_bucket").distinct().limit(capProbe)
        .collect().map(_.get(0))
      else Array.empty[Any]
    val dupOfHistory =
      if (!hasHistory || batchBuckets.isEmpty) batch.select(col(idCol)).limit(0)
      else {
        val src = if (batchBuckets.length <= maxBucketFetch)
          histRead(batchBuckets) else histFull()
        probe
          .join(src.select(col("graft_bucket"), col("graft_id").as("graft_hid"),
            col("graft_sh").as("graft_hh")), Seq("graft_bucket"))
          .filter(graft.functions.TextFunctions
            .hamming64(col("graft_bh"), col("graft_hh")) <= maxHamming)
          // one row per (batch item, admitted item, aligned frame)
          .select("graft_bid", "graft_hid", "graft_pos").distinct()
          .groupBy("graft_bid", "graft_hid")
          .agg(count(lit(1)).as("graft_m"))
          .filter(col("graft_m") >= minMatchedFrames)
          .select(col("graft_bid").as(idCol)).distinct()
      }
    val admitted = batch
      .join(dupOfHistory.unionByName(dupInBatch).distinct(),
        Seq(idCol), "left_anti")
      .persist()
    admitted.count() // materialize before releasing the probe cache
    probe.unpersist()
    admitted
  }

  /** Admitted frame rows → store rows: exact band keys only (no flip
    * expansion — that rides the probe side). */
  private def admittedFrameBandRows(
      admitted: DataFrame, idCol: String, posCol: String, hashCol: String,
      nChunks: Int): DataFrame =
    admitted
      .filter(col(hashCol).isNotNull && col(posCol).isNotNull)
      .select(col(idCol).as("graft_id"),
        col(posCol).cast("long").as("graft_pos"),
        col(hashCol).as("graft_sh"))
      .withColumn("graft_bucket", explode(frameBandKeys(
        col("graft_sh"), col("graft_pos"), nChunks, expand = false)))

  /** Maintenance for a [[frameHammingNearDupStream]] store: fold every
    * batch partition except the latest into `batch=-1`, sorted by bucket
    * (the probe's pushed bucket cover then hits tight row groups). */
  def maintainFrameHammingNearDupStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L << 20): Unit =
    foldLogStoreBatches(spark, storePath, targetFileBytes,
      sortCols = Seq("graft_bucket", "graft_id"), statsCol = Some("graft_bucket"))

  /** Shared single-level log-store fold (exact-dedup and embedding
    * stores): one manifest folds every batch but the newest into
    * `batch=-1`, range-partitioned and sorted by `sortCols` so the
    * per-file stats ranges stay tight for the history lookups,
    * parity-checked from footers pre-commit. */
  private def foldLogStoreBatches(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      targetFileBytes: Long,
      sortCols: Seq[String],
      statsCol: Option[String]): Unit = {
    import graft.operators.CommitLog
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    adoptSingleRootStore(spark, store)
    val baseV = CommitLog.currentVersion(fs, store)
    if (baseV == 0) return
    val files = CommitLog.snapshotFiles(fs, store, baseV)
    val ids = files.flatMap(_.split('/').headOption).distinct
      .flatMap(n => scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
    val live = ids.filter(_ >= 0)
    if (live.isEmpty) return
    val maxId = live.max
    val foldIds = ids.filter(_ < maxId).sorted
    if (!foldIds.exists(_ >= 0)) return

    val inFiles = files.filter(f =>
      foldIds.exists(i => f.startsWith(s"batch=$i/")))
    val bytes = inFiles
      .map(f => fs.getFileStatus(new org.apache.hadoop.fs.Path(store, f)).getLen)
      .sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val folded = CommitLog.read(spark, store, Some(baseV)).get
      .filter(col("batch").isin(foldIds: _*)).drop("batch")
      .repartitionByRange(nOut, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
    val staging = graft.operators.Swap.Suffix.staging(
      store, graft.operators.Swap.newTag())
    val dest = new org.apache.hadoop.fs.Path(staging, "batch=-1")
    folded.write.parquet(dest.toString)
    val before = graft.operators.Compact.footerRowsOf(spark,
      inFiles.map(new org.apache.hadoop.fs.Path(store, _)))
    val after = graft.operators.Compact.footerRowsIn(spark, Seq(dest))
    if (before != after) {
      fs.delete(staging, true)
      throw new IllegalStateException(
        s"fold row mismatch for $storePath: $before -> $after (store untouched)")
    }
    CommitLog.commitStaged(spark, store, staging, baseV,
      retireNames = foldIds.map("batch=" + _),
      wholeStore = false,
      // config + maxBatch carry forward; the tip's operation label does not
      meta = CommitLog.tipMeta(fs, store) - "operation",
      extraTouched = Seq(CommitLog.SerialToken),
      statsCol = statsCol) // sorted fold → tight per-file ranges
    // same rationale as the near-dup fold: maintenance is when the store
    // physically shrinks
    CommitLog.vacuum(spark, store)
    ()
  }

}
