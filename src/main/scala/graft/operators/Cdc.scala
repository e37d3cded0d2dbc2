package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** APPLY a change-data-capture feed to a commit-log store — the
  * `apply_changes` / MERGE-from-CDC operator that turns a stream of
  * keyed (op, sequence) events from an upstream database into a
  * replicated table.
  *
  * A raw CDC feed is messy in exactly two ways this operator absorbs:
  * a key can appear MANY times (insert, three updates, a delete, out of
  * order across micro-batches), and inserts/updates/deletes interleave.
  * Resolution: per key, the action with the HIGHEST `seqCol` wins
  * (upstream commit order), everything older is discarded BEFORE any
  * store write — so applying a feed costs one bounded-heap argmax over
  * the feed (feed-sized, never store-sized) plus one Merge upsert and
  * one set-based Delete, both file-grain copy-on-write.
  *
  * Determinism: (key, seq) pairs must be unique per key at the tip —
  * the upstream log's own guarantee; enforced here (duplicate max-seq
  * rows for a key abort loudly rather than apply either one
  * arbitrarily).
  *
  * Idempotence note: re-applying the same feed yields the same store
  * state (upserts overwrite with identical rows; deletes of absent keys
  * no-op) — the crash-replay property a foreachBatch caller needs.
  */
object Cdc {

  /** Exact-row dedup of the feed, skipped when any column carries a
    * map type (Spark cannot group/sort maps — `distinct` would throw on
    * a feed shape that applies fine otherwise). Map-payload feeds keep
    * the pre-dedup behavior: byte-identical redelivery at the winning
    * sequence still refuses via the tie check, which is the loud, not
    * the silent, failure mode. */
  private def dedupExact(feed: DataFrame): DataFrame = {
    def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
      case _ => false
    }
    if (feed.schema.fields.exists(f => hasMap(f.dataType))) feed
    else feed.distinct()
  }

  /** Apply `feed` to the store at `targetPath`. `feed` columns: the
    * store's data columns + `opCol` (values "I"/"U" upsert, "D" delete)
    * + `seqCol` (orderable). Returns the resulting table. */
  def applyChanges(
      spark: SparkSession,
      targetPath: String,
      feed: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      opCol: String): DataFrame = {
    require(keyCols.nonEmpty, "applyChanges needs at least one key column")

    // An at-least-once transport redelivers byte-identical rows as its
    // NORMAL output; only rows that differ at the winning sequence are a
    // corrupt feed. Dedup exact duplicates first so redelivery is not a
    // poison pill that permanently halts every replay of this batch.
    val events = dedupExact(feed)

    // per-key winner by seq — bounded-heap argmax, feed-sized. PERSISTED
    // (r18-opt): winners feeds four downstream actions (the tie check,
    // Merge's dup-key check, the merge rewrite, the delete's matched-file
    // scan + anti-join) and each was recomputing the whole feed pipeline
    // — dedup exchange included — from the source scans. Feed-sized by
    // the operator's own contract, so the cache is bounded.
    val winners = TopK.perKey(
        events.withColumn("graft_seq", col(seqCol)),
        keys = keyCols, ordering = Seq("graft_seq"), k = 1)
      .join(events.withColumnRenamed(seqCol, "graft_seq"),
        keyCols :+ "graft_seq")
      .persist()
    try {
      // the upstream log guarantees one action per (key, seq); a tie at
      // the winning seq means a corrupt feed — refuse, don't guess
      val dupTies = winners.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("graft_n")).filter(col("graft_n") > 1)
      val firstDup = dupTies.limit(1).collect()
      require(firstDup.isEmpty,
        s"CDC feed has multiple actions at the winning sequence for key " +
          s"${firstDup.headOption.map(_.toString).getOrElse("")} — refusing to apply")

      val upserts = winners.filter(col(opCol) =!= "D")
        .drop(opCol, "graft_seq")
      val deletes = winners.filter(col(opCol) === "D")
        .select(keyCols.map(col): _*)

      Merge.into(spark, targetPath, upserts, keyCols)
      // safe to release after: whereIn executes its rewrite before
      // returning, and the returned frame reads only the store
      Delete.whereIn(spark, targetPath, deletes, keyCols)
    } finally winners.unpersist()
  }

  /** [[applyChanges]] in ONE atomic commit — the streaming-sink variant.
    *
    * The two-commit batch path has a crash window: a failure between the
    * merge commit and the delete commit leaves the store half-applied,
    * and a replay that keys idempotence off "did my batch commit?" would
    * skip the missing deletes. Here upserts and deletes land together:
    * the files holding ANY winner key (upsert or delete) are rewritten
    * once — survivors anti-joined on the winner key set, upsert rows
    * appended — and ONE manifest (carrying the caller's `meta`, e.g. the
    * foreachBatch batchId) retires the old files. Either the whole batch
    * is visible or none of it, so exactly-once needs only the
    * batchId-in-meta check ([[graft.streaming.StreamOps.applyCdcBatchOnce]]).
    *
    * A missing store bootstraps from the feed's upserts (commitStaged
    * creates the log). */
  def applyChangesAtomic(
      spark: SparkSession,
      targetPath: String,
      feed: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      opCol: String,
      meta: Map[String, String] = Map.empty): DataFrame = {
    require(keyCols.nonEmpty, "applyChanges needs at least one key column")
    val store = new Path(targetPath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitLog.adopt(spark, store)

    // exact-duplicate redelivery is normal at-least-once output, not a
    // corrupt feed (see applyChanges)
    val events = dedupExact(feed)
    // persisted for the same multi-action reuse as [[applyChanges]]
    val winners = TopK.perKey(
        events.withColumn("graft_seq", col(seqCol)),
        keys = keyCols, ordering = Seq("graft_seq"), k = 1)
      .join(events.withColumnRenamed(seqCol, "graft_seq"),
        keyCols :+ "graft_seq")
      .persist()
    try {
    val firstDup = winners.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("graft_n")).filter(col("graft_n") > 1)
      .limit(1).collect()
    require(firstDup.isEmpty,
      s"CDC feed has multiple actions at the winning sequence for key " +
        s"${firstDup.headOption.map(_.toString).getOrElse("")} — refusing to apply")
    val upserts = winners.filter(col(opCol) =!= "D").drop(opCol, "graft_seq")
    val allKeys = winners.select(keyCols.map(col): _*).distinct()

    val readVersion = CommitLog.currentVersion(fs, store)
    val snapshot = CommitLog.read(spark, store, Some(readVersion))

    val storeUri = fs.makeQualified(store).toUri.getPath
    val matched: Seq[String] = snapshot match {
      case None => Nil // bootstrap: no files to rewrite
      case Some(df) => df
        .withColumn("graft_f", input_file_name())
        .join(allKeys, keyCols, "left_semi")
        .select("graft_f").distinct()
        .collect().map(_.getString(0))
        .map { f =>
          val p = new Path(new java.net.URI(f)).toUri.getPath
          p.stripPrefix(storeUri).stripPrefix("/")
        }.toSeq
    }

    // Partition layout comes from the FULL snapshot at readVersion, not
    // just the matched files: an insert-only batch on a Hive-partitioned
    // store matches no existing file, and deriving from `matched` alone
    // would write the staged rows flat — mixing partitioned and
    // unpartitioned files under one basePath and breaking every
    // subsequent partition discovery.
    val pcols = {
      val per = CommitLog.snapshotFiles(fs, store, readVersion)
        .map(CommitLog.partitionColsOf).distinct
      require(per.size <= 1,
        s"store files disagree on partition layout: $per")
      per.headOption.getOrElse(Nil)
    }
    val survivors = CommitLog.readFilesAt(spark, store, readVersion, matched)
      .map(_.join(allKeys, keyCols, "left_anti"))
    val staged = survivors match {
      case Some(s) => s.unionByName(upserts.select(s.columns.map(col): _*))
      case None => upserts
    }
    val staging = Swap.Suffix.staging(store, Swap.newTag())
    val w = staged.write
    (if (pcols.isEmpty) w else w.partitionBy(pcols: _*)).parquet(staging.toString)
    CommitLog.commitStaged(spark, store, staging, readVersion,
      retireNames = matched, wholeStore = false,
      meta = meta + ("operation" -> "cdc-apply"),
      schema = Some(staged.schema))
    CommitLog.read(spark, store).getOrElse(spark.emptyDataFrame)
    } finally winners.unpersist()
  }
}
