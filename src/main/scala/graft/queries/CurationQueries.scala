package graft.queries

import graft.GraftQuery
import graft.GraftQuery.nz
import graft.operators.{Chunker, Decontaminate}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Training-corpus preparation operators over `documents`: overlapping
  * token-window chunking, repetition scoring, benchmark decontamination.
  * Chunking and repetition are oracle-gated (DuckDB list functions can
  * express both); decontamination's shingle-hash semi-join is not
  * SQL-expressible in DuckDB and is rows-only + ScalaTest.
  */
object CurationQueries {

  val all: Seq[GraftQuery] = Seq(

    // Overlapping token chunks: 10-token windows advancing 8 tokens.
    // Narrow (tokenize → explode starts → slice): chunking is scan-bound
    // at any corpus size.
    GraftQuery(
      "q_chunk",
      (s, d) =>
        Chunker.chunk(Tables.documents(s, d), "doc_id", "text",
          chunkTokens = 10, stride = 8)
          .orderBy("doc_id", "chunk_ix"),
      Some("""SELECT doc_id, CAST(g AS INT) AS chunk_ix,
             |       array_to_string(toks[g*8+1 : g*8+10], ' ') AS chunk
             |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
             |LATERAL (SELECT unnest(generate_series(0,
             |           greatest(0, (len(toks) - 3) // 8))) AS g) s
             |ORDER BY doc_id, chunk_ix""".stripMargin)),

    // Middle-out truncation to a token budget — the long-document
    // context-fitting rule (keep the head and the tail, drop the
    // middle): classification/retrieval signal concentrates at document
    // boundaries, so head+tail beats head-only at the same budget.
    // Keep first 32 + last 16 tokens with an ellipsis marker when
    // anything was dropped; short docs pass through verbatim. Pure
    // per-row array slicing — narrow, scan-bound at any corpus size.
    GraftQuery(
      "q_truncate_mid",
      (s, d) => {
        val toks = split(col("text"), " ")
        val n = size(toks)
        val head = lit(32); val tail = lit(16)
        Tables.documents(s, d)
          .select(col("doc_id"), n.cast("bigint").as("n_tokens"),
            when(n <= head + tail, col("text"))
              .otherwise(concat_ws(" ",
                array_join(slice(toks, lit(1), head), " "),
                lit("…"),
                array_join(slice(toks, n - tail + 1, tail), " ")))
              .as("truncated"),
            (n > head + tail).as("was_truncated"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(len(toks) AS BIGINT) AS n_tokens,
             |  CASE WHEN len(toks) <= 48 THEN text
             |       ELSE array_to_string(toks[1:32], ' ') || ' … ' ||
             |            array_to_string(toks[len(toks)-15 : len(toks)], ' ')
             |  END AS truncated,
             |  len(toks) > 48 AS was_truncated
             |FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
             |      FROM documents) t
             |ORDER BY doc_id""".stripMargin)),

    // Repetition score (Gopher-style quality rule): fraction of duplicate
    // word bigrams within each document. Pure per-row higher-order
    // functions — no shuffle.
    GraftQuery(
      "q_repetition",
      (s, d) => {
        val toks = split(col("text"), " ")
        val bg = transform(sequence(lit(1), size(toks) - 1),
          i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1)))
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            when(size(toks) >= 2,
              round(lit(1.0) -
                size(array_distinct(bg)).cast("double") / size(bg), 4))
              .otherwise(lit(0.0)).as("dup_bigram_ratio"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN len(toks) >= 2
             |    THEN ROUND(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)/len(bg), 4)
             |    ELSE 0.0 END AS dup_bigram_ratio
             |FROM (SELECT doc_id, toks,
             |        list_transform(generate_series(1, len(toks)-1),
             |                       i -> toks[i] || ' ' || toks[i+1]) AS bg
             |      FROM (SELECT doc_id, string_split(text,' ') AS toks
             |            FROM documents) x) y
             |ORDER BY doc_id""".stripMargin)),

    // Unicode canonicalization ahead of hashing/dedup: decomposed accents
    // (e + U+0301) must fingerprint like their composed form (é). Native
    // codegen'd expression (Spark has no builtin normalize); the oracle
    // is DuckDB's nfc_normalize. A decomposed suffix is planted so the
    // transform is observable on the ASCII fixture.
    GraftQuery(
      "q_normalize",
      (s, d) => {
        val raw = concat(col("text"), lit(" cafe"), lit("\u0301"))
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            graft.functions.TextFunctions.normalize(raw).as("norm"),
            length(raw).as("n_raw"),
            length(graft.functions.TextFunctions.normalize(raw)).as("n_nfc"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  nfc_normalize(text || ' cafe' || chr(769)) AS norm,
             |  CAST(length(text || ' cafe' || chr(769)) AS INT) AS n_raw,
             |  CAST(length(nfc_normalize(text || ' cafe' || chr(769))) AS INT) AS n_nfc
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // TF-IDF top terms: tf per (doc, term), document frequency over the
    // FULL corpus, idf = ln((N+1)/(df+1)), top-3 terms per doc. Ranking
    // is pinned to (rounded score desc, term) so float last-ulp noise
    // can't flip the cut across engines. Scale: one key-shuffle on (doc,
    // term) for tf; the vocabulary side (dfreq) goes through the MEASURED
    // broadcast switch — vocab grows sub-linearly (Heaps' law) so it
    // broadcasts at any realistic corpus, but if it ever doesn't, the
    // switch degrades to a shuffle join instead of OOMing the driver.
    GraftQuery(
      "q_tfidf",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val term = explode(split(col("text"), " ")).as("term")
        val tf = docs.filter(col("doc_id") < 50)
          .select(col("doc_id"), term)
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = graft.operators.Joins.broadcastIfSmall(
          docs.select(col("doc_id"), term)
            .groupBy("term").agg(countDistinct("doc_id").as("df")))
        val nDf = docs.agg(count(lit(1)).as("n"))
        val scored = tf.join(dfreq, "term")
          .crossJoin(broadcast(nDf))
          .withColumn("score",
            col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)))
        val w = Window.partitionBy("doc_id")
          .orderBy(round(col("score"), 6).desc, col("term"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("term"), round(col("score"), 4).as("tfidf"))
          .orderBy("doc_id", "term")
      },
      Some("""WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM
             |        (SELECT doc_id, unnest(string_split(text,' ')) AS term
             |         FROM documents WHERE doc_id < 50) t GROUP BY 1,2),
             |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM
             |        (SELECT doc_id, unnest(string_split(text,' ')) AS term
             |         FROM documents) t GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents)
             |SELECT doc_id, term, ROUND(score, 4) AS tfidf FROM (
             |  SELECT tf.doc_id, tf.term,
             |         tf.tf * ln((n.n + 1.0)/(dfreq.df + 1.0)) AS score,
             |         row_number() OVER (PARTITION BY tf.doc_id
             |           ORDER BY ROUND(tf.tf * ln((n.n+1.0)/(dfreq.df+1.0)), 6) DESC,
             |                    tf.term) AS rk
             |  FROM tf JOIN dfreq USING (term) CROSS JOIN n) x
             |WHERE rk <= 3 ORDER BY doc_id, term""".stripMargin)),

    // Exact substring-level dedup (operators/SubstringDedup.scala, Lee
    // et al. 2021): every duplicated >= 8-token window keeps only its
    // most-senior (doc_id, start) occurrence; overlapping removed
    // windows union into long spans, the rest of each doc survives.
    // md5 window keys exist in both engines, so the WHOLE pipeline —
    // windows, keeper election, span union, reassembly — replays in
    // DuckDB: the row is driver-gated end to end.
    GraftQuery(
      "q_substring_dedup",
      (s, d) =>
        graft.operators.SubstringDedup.dedupSubstrings(
          Tables.documents(s, d), "doc_id", "text", minTokens = 8)
          .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
             |              FROM documents),
             |wins AS (SELECT doc_id, s, md5(array_to_string(t[s+1:s+8], ' ')) AS h
             |         FROM toks, unnest(generate_series(0, len(t)-8)) AS u(s)
             |         WHERE len(t) >= 8),
             |marked AS (SELECT doc_id, s,
             |             row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn,
             |             count(*) OVER (PARTITION BY h) AS c
             |           FROM wins),
             |removed AS (SELECT doc_id, s FROM marked WHERE c > 1 AND rn > 1),
             |tokens AS (SELECT doc_id, i, t[i+1] AS tok
             |           FROM toks, unnest(generate_series(0, len(t)-1)) AS u(i)),
             |kept AS (SELECT tk.doc_id, tk.i, tk.tok FROM tokens tk
             |         WHERE NOT EXISTS (SELECT 1 FROM removed r
             |           WHERE r.doc_id = tk.doc_id
             |             AND tk.i >= r.s AND tk.i < r.s + 8))
             |SELECT d.doc_id,
             |       coalesce(string_agg(k.tok, ' ' ORDER BY k.i), '') AS text
             |FROM documents d LEFT JOIN kept k USING (doc_id)
             |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)),

    // Repeated-segment boilerplate removal (operators/Boilerplate.scala):
    // drop any fixed-width word segment whose exact text occurs in >= 3
    // distinct docs, keep the rest of each page (C4/RefinedWeb-style).
    // The fixture's word soup repeats 3-grams naturally (~9% of segments
    // cross the threshold at both SFs), so removal and survival are both
    // exercised. Oracle replays segmentation, distinct-doc counts, and
    // in-order reassembly.
    GraftQuery(
      "q_boilerplate",
      (s, d) =>
        graft.operators.Boilerplate.removeRepeated(
          Tables.documents(s, d), "doc_id", "text",
          segmentWords = 3, minDocs = 3)
          .orderBy("doc_id"),
      Some("""WITH words AS (
             |  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS idx
             |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
             |segs AS (
             |  SELECT doc_id, CAST((idx-1)//3 AS BIGINT) AS seg,
             |         string_agg(w, ' ' ORDER BY idx) AS seg_text
             |  FROM words GROUP BY 1, 2),
             |freq AS (
             |  SELECT seg_text, count(DISTINCT doc_id) AS df FROM segs GROUP BY 1)
             |SELECT doc_id,
             |  coalesce(string_agg(seg_text, ' ' ORDER BY seg)
             |             FILTER (WHERE df < 3), '') AS clean_text,
             |  count(*) FILTER (WHERE df >= 3) AS n_removed
             |FROM segs JOIN freq USING (seg_text)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // BM25 retrieval (operators/Bm25.scala): Lucene-IDF BM25 top-k per
    // query over the documents table — broadcast query-term filter before
    // any shuffle, bounded-heap top-k (no window sort). The oracle
    // replays the exact arithmetic (ln(1+(N-df+.5)/(df+.5)), k1=1.2,
    // b=0.75, score rounded to 6 for ranking / 4 for output).
    GraftQuery(
      "q_bm25",
      (s, d) =>
        graft.operators.Bm25.topK(
          Tables.documents(s, d), "doc_id", "text",
          Seq(
            "q1" -> "spark join window",
            "q2" -> "merge batch stream",
            "q3" -> "vector hash scan"),
          k = 10),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |              FROM documents),
             |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
             |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
             |qterms AS (SELECT * FROM (VALUES
             |    ('q1','spark'),('q1','join'),('q1','window'),
             |    ('q2','merge'),('q2','batch'),('q2','stream'),
             |    ('q3','vector'),('q3','hash'),('q3','scan'))
             |  AS q(query_id, term)),
             |tf AS (SELECT query_id, t.doc_id, t.term, count(*) AS tf
             |       FROM toks t JOIN qterms USING (term) GROUP BY 1,2,3),
             |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
             |          WHERE term IN (SELECT DISTINCT term FROM qterms)
             |          GROUP BY 1),
             |scored AS (SELECT query_id, doc_id, sum(
             |    ln(1 + (n - df + 0.5)/(df + 0.5)) * (tf * (1.2 + 1)) /
             |    (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS score
             |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
             |  CROSS JOIN stats GROUP BY 1,2)
             |SELECT query_id, doc_id, ROUND(score, 4) AS bm25 FROM (
             |  SELECT query_id, doc_id, score,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY ROUND(score, 6) DESC, doc_id) AS rk
             |  FROM scored) x
             |WHERE rk <= 10 ORDER BY query_id, doc_id""".stripMargin)),

    // Hybrid retrieval: BM25 + embedding-cosine fused by reciprocal-rank
    // fusion (operators/Retrieval.scala). Both rankers reduce to poolK
    // rows per query BEFORE fusion (broadcast-pruned postings / Take-
    // OrderedAndProject), so fusion runs on bounded pools. The oracle
    // replays the full q_bm25 pipeline, the cosine ranking, the two pool
    // cuts, the rank windows, and the 1/(60+r) sum.
    GraftQuery(
      "q_rrf",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        def probe(id: Long): Array[Float] = e.filter(col("vec_id") === id)
          .select("embedding").collect().head.getSeq[Float](0).toArray
        graft.operators.Retrieval.hybridTopK(
          Tables.documents(s, d), "doc_id", "text",
          e, "vec_id", "embedding",
          Seq(
            ("q1", "spark join window", probe(1L)),
            ("q2", "merge batch stream", probe(2L))),
          k = 10, poolK = 50)
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |              FROM documents),
             |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
             |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
             |qterms AS (SELECT * FROM (VALUES
             |    ('q1','spark'),('q1','join'),('q1','window'),
             |    ('q2','merge'),('q2','batch'),('q2','stream'))
             |  AS q(query_id, term)),
             |tf AS (SELECT query_id, t.doc_id, t.term, count(*) AS tf
             |       FROM toks t JOIN qterms USING (term) GROUP BY 1,2,3),
             |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
             |          WHERE term IN (SELECT DISTINCT term FROM qterms)
             |          GROUP BY 1),
             |scored AS (SELECT query_id, doc_id, sum(
             |    ln(1 + (n - df + 0.5)/(df + 0.5)) * (tf * (1.2 + 1)) /
             |    (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS score
             |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
             |  CROSS JOIN stats GROUP BY 1,2),
             |spool AS (SELECT query_id, doc_id, ROUND(score, 4) AS bm25 FROM (
             |    SELECT query_id, doc_id, score,
             |           row_number() OVER (PARTITION BY query_id
             |             ORDER BY ROUND(score, 6) DESC, doc_id) AS rk
             |    FROM scored) x WHERE rk <= 50),
             |srank AS (SELECT query_id, doc_id,
             |            row_number() OVER (PARTITION BY query_id
             |              ORDER BY bm25 DESC, doc_id) AS r
             |          FROM spool),
             |qv AS (SELECT 'q1' AS query_id, CAST(embedding AS DOUBLE[]) AS pv
             |       FROM embeddings WHERE vec_id = 1
             |       UNION ALL
             |       SELECT 'q2' AS query_id, CAST(embedding AS DOUBLE[]) AS pv
             |       FROM embeddings WHERE vec_id = 2),
             |dsc AS (SELECT q.query_id, e.vec_id AS doc_id,
             |          ROUND(LIST_COSINE_SIMILARITY(CAST(e.embedding AS DOUBLE[]),
             |            q.pv), 4) AS sim
             |        FROM embeddings e CROSS JOIN qv q),
             |dpool AS (SELECT query_id, doc_id, sim FROM (
             |    SELECT query_id, doc_id, sim,
             |           row_number() OVER (PARTITION BY query_id
             |             ORDER BY sim DESC, doc_id) AS rk
             |    FROM dsc) x WHERE rk <= 50),
             |drank AS (SELECT query_id, doc_id,
             |            row_number() OVER (PARTITION BY query_id
             |              ORDER BY sim DESC, doc_id) AS r
             |          FROM dpool),
             |fused AS (SELECT query_id, doc_id,
             |            COALESCE(1.0/(60 + s.r), 0) + COALESCE(1.0/(60 + d.r), 0)
             |              AS rrf
             |          FROM srank s FULL JOIN drank d USING (query_id, doc_id))
             |SELECT query_id, doc_id, ROUND(rrf, 6) AS rrf FROM (
             |  SELECT query_id, doc_id, rrf,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY ROUND(rrf, 6) DESC, doc_id) AS rk
             |  FROM fused) x
             |WHERE rk <= 10 ORDER BY query_id, doc_id""".stripMargin)),

    // BM25 through the COMMIT-LOG index with an incremental append
    // (operators/Bm25Index.buildAndSave/append): build on the even
    // doc ids, append the odd ones — one atomic manifest moves
    // postings + doclen + stats — then query the appended tip. BM25
    // freezes nothing at build time (df/n/avgdl recompute from the
    // store per query), so the appended index must score IDENTICALLY to
    // a one-shot build: the oracle is the full-corpus DuckDB replay,
    // shared verbatim with q_bm25_index. This row is the driver-gated
    // proof that append ≡ rebuild.
    GraftQuery(
      "q_bm25_log",
      (s, d) => {
        val dir = graft.GraftQuery.tempDir("graft_bm25lq") + "/idx"
        val docs = Tables.documents(s, d)
        graft.operators.Bm25Index.buildAndSave(
          docs.filter(col("doc_id") % 2 === 0), dir, "doc_id", "text",
          buckets = 16)
        graft.operators.Bm25Index.append(s, dir,
          docs.filter(col("doc_id") % 2 === 1))
        graft.operators.Bm25Index.load(s, dir)
          .topK(
            Seq(
              "q1" -> "spark join window",
              "q2" -> "merge batch stream",
              "q3" -> "vector hash scan"),
            k = 10)
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |              FROM documents),
             |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
             |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
             |qterms AS (SELECT * FROM (VALUES
             |    ('q1','spark'),('q1','join'),('q1','window'),
             |    ('q2','merge'),('q2','batch'),('q2','stream'),
             |    ('q3','vector'),('q3','hash'),('q3','scan'))
             |  AS q(query_id, term)),
             |tf AS (SELECT query_id, t.doc_id, t.term, count(*) AS tf
             |       FROM toks t JOIN qterms USING (term) GROUP BY 1,2,3),
             |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
             |          WHERE term IN (SELECT DISTINCT term FROM qterms)
             |          GROUP BY 1),
             |scored AS (SELECT query_id, doc_id, sum(
             |    ln(1 + (n - df + 0.5)/(df + 0.5)) * (tf * (1.2 + 1)) /
             |    (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS score
             |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
             |  CROSS JOIN stats GROUP BY 1,2)
             |SELECT query_id, doc_id, ROUND(score, 4) AS bm25 FROM (
             |  SELECT query_id, doc_id, score,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY ROUND(score, 6) DESC, doc_id) AS rk
             |  FROM scored) x
             |WHERE rk <= 10 ORDER BY query_id, doc_id""".stripMargin)),

    // BM25 through the PERSISTED inverted index (operators/Bm25Index
    // .scala): build-once/query-many — postings hive-partitioned by
    // term-hash bucket, so the term lookup is parquet partition pruning.
    // Scoring reproduces Bm25.topK exactly, so this row shares q_bm25's
    // oracle SQL VERBATIM: the driver gate proves index path ≡ online
    // path ≡ DuckDB replay.
    GraftQuery(
      "q_bm25_index",
      (s, d) => {
        val dir = graft.GraftQuery.tempDir("graft_bm25q") + "/idx"
        // 16 buckets: the fixture vocabulary is ~40 terms; the operator
        // default (64) is sized for real corpora
        graft.operators.Bm25Index
          .buildAndSave(Tables.documents(s, d), dir, "doc_id", "text",
            buckets = 16)
          .topK(
            Seq(
              "q1" -> "spark join window",
              "q2" -> "merge batch stream",
              "q3" -> "vector hash scan"),
            k = 10)
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |              FROM documents),
             |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
             |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
             |qterms AS (SELECT * FROM (VALUES
             |    ('q1','spark'),('q1','join'),('q1','window'),
             |    ('q2','merge'),('q2','batch'),('q2','stream'),
             |    ('q3','vector'),('q3','hash'),('q3','scan'))
             |  AS q(query_id, term)),
             |tf AS (SELECT query_id, t.doc_id, t.term, count(*) AS tf
             |       FROM toks t JOIN qterms USING (term) GROUP BY 1,2,3),
             |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
             |          WHERE term IN (SELECT DISTINCT term FROM qterms)
             |          GROUP BY 1),
             |scored AS (SELECT query_id, doc_id, sum(
             |    ln(1 + (n - df + 0.5)/(df + 0.5)) * (tf * (1.2 + 1)) /
             |    (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS score
             |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
             |  CROSS JOIN stats GROUP BY 1,2)
             |SELECT query_id, doc_id, ROUND(score, 4) AS bm25 FROM (
             |  SELECT query_id, doc_id, score,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY ROUND(score, 6) DESC, doc_id) AS rk
             |  FROM scored) x
             |WHERE rk <= 10 ORDER BY query_id, doc_id""".stripMargin)),

    // Host extraction + per-host doc counts — the provenance histogram a
    // crawl-curation pipeline runs first (which domains dominate the
    // corpus?). URL synthesized from the doc's source tag; the operator is
    // regexp_extract + a map-side-combinable count.
    GraftQuery(
      "q_url_extract",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            concat(lit("https://"), col("source"), lit(".example.com/d/"),
              col("doc_id")).as("url"))
          .select(regexp_extract(col("url"), "https?://([^/]+)/", 1).as("host"))
          .groupBy("host")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("host"),
      Some("""SELECT regexp_extract(
             |         concat('https://', source, '.example.com/d/', doc_id),
             |         'https?://([^/]+)/', 1) AS host,
             |       COUNT(*) AS n_docs
             |FROM documents GROUP BY 1 ORDER BY host""".stripMargin)),

    // URL canonicalization dedup — crawl stage 0: the same page arrives
    // under casing/port/fragment/tracking-param/www/trailing-slash
    // variants, and the canonical form is the dedup key. Four synthetic
    // variants per group of 4 docs; after canonicalization the first two
    // https variants collapse (count 2), the http one stays its own key
    // (scheme folding is a policy choice, deliberately not taken), and
    // the utm-run variant keeps its REAL `id` param (count 1) — tracking
    // params strip individually, they never take innocent params with
    // them. The oracle replays the identical RE2-safe regexp chain.
    GraftQuery(
      "q_url_canon",
      (s, d) => {
        val g = expr("doc_id div 4")
        val gh = g % 5
        val url = when(col("doc_id") % 4 === 0,
          concat(lit("HTTPS://WWW.h"), gh, lit(".Example.COM:443/P"), g, lit("/#frag")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("https://h"), gh, lit(".example.com/P"), g, lit("/")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("http://www.h"), gh, lit(".example.com:80/P"), g))
          .otherwise(
            concat(lit("https://h"), gh, lit(".example.com/P"), g,
              lit("?utm_source=x&utm_campaign=y&id=7")))
        Tables.documents(s, d)
          .select(graft.functions.TextFunctions.canonicalUrl(url).as("canon"))
          .groupBy("canon").agg(count(lit(1)).as("n"))
          .orderBy("canon")
      },
      Some("""WITH u AS (SELECT CASE doc_id % 4
             |    WHEN 0 THEN 'HTTPS://WWW.h' || (doc_id // 4) % 5 || '.Example.COM:443/P' || (doc_id // 4) || '/#frag'
             |    WHEN 1 THEN 'https://h' || (doc_id // 4) % 5 || '.example.com/P' || (doc_id // 4) || '/'
             |    WHEN 2 THEN 'http://www.h' || (doc_id // 4) % 5 || '.example.com:80/P' || (doc_id // 4)
             |    ELSE 'https://h' || (doc_id // 4) % 5 || '.example.com/P' || (doc_id // 4) || '?utm_source=x&utm_campaign=y&id=7'
             |  END AS url FROM documents),
             |c AS (SELECT regexp_replace(
             |        regexp_replace(
             |          regexp_replace(
             |            regexp_replace(
             |              regexp_replace(
             |                regexp_replace(
             |                  regexp_replace(
             |                    regexp_replace(
             |                      regexp_replace(
             |                        regexp_replace(lower(trim(url)), '#.*$', ''),
             |                        '([?&])(utm_[^&#]*&)+', '\1', 'g'),
             |                      '([?&]utm_[^&#]*)+$', ''),
             |                    '[?&]$', ''),
             |                  '^(https://[^/:]+):443/', '\1/'),
             |                '^(https://[^/:]+):443$', '\1'),
             |              '^(http://[^/:]+):80/', '\1/'),
             |            '^(http://[^/:]+):80$', '\1'),
             |          '^(https?://)www\.', '\1'),
             |        '/$', '') AS canon FROM u)
             |SELECT canon, COUNT(*) AS n FROM c GROUP BY 1 ORDER BY canon""".stripMargin)),

    // Token-budget corpus selection — the data-mixing primitive: per
    // language, admit documents in quality order (vocabulary-uniqueness
    // ratio, doc_id tiebreak) until a token budget fills. The sort key
    // is rounded so float last-ulp noise can't reorder admissions across
    // engines.
    //
    // Scale design (two-pass, NO per-language global window): a naive
    // `Window.partitionBy(lang).orderBy(uq desc)` cumsum funnels the
    // entire corpus of one language through a single task — a ~50 TB
    // partition for English at 100 TB. Instead:
    //   1. Aggregate tokens per (lang, uq) bucket — map-side combined
    //      shuffle; uq is rounded to 1e-6 so the bucket table is bounded
    //      at <= 1,000,001 rows per language REGARDLESS of corpus size.
    //   2. Cumsum over that small bucket table (per-lang window over a
    //      bounded input) gives each bucket the token mass strictly
    //      above it; buckets whose prefix already exceeds the budget are
    //      dropped — only budget-crossing candidates survive, so the
    //      surviving bucket table is tiny and goes through the measured
    //      broadcast switch.
    //   3. Join docs to candidate buckets (broadcast semi: non-candidate
    //      docs never shuffle) and finish the exact per-doc cumsum with
    //      a window partitioned by (lang, uq) — up to 1e6-way parallel
    //      per language, over candidate docs only (token mass bounded by
    //      ~budget + one bucket), not the whole corpus.
    // Identical admissions and cum_toks to the single-window form; the
    // oracle runs the naive window and hash-matches.
    GraftQuery(
      "q_token_budget",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val budget = 3000L
        val toks = split(col("text"), " ")
        val scored = Tables.documents(s, d).select(
          col("doc_id"), col("lang"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("n_toks"),
          round(size(array_distinct(toks)).cast("double") / size(toks), 6)
            .as("uq"))
        val buckets = scored.groupBy("lang", "uq")
          .agg(sum("n_toks").as("g_toks"))
        val wb = Window.partitionBy("lang").orderBy(col("uq").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val candidates = graft.operators.Joins.broadcastIfSmall(
          buckets.withColumn("toks_above",
              sum("g_toks").over(wb) - col("g_toks"))
            .filter(col("toks_above") <= budget)
            .select("lang", "uq", "toks_above"))
        val wd = Window.partitionBy("lang", "uq").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        scored.join(candidates, Seq("lang", "uq"))
          .withColumn("cum_toks",
            col("toks_above") + sum("n_toks").over(wd))
          .filter(col("cum_toks") <= budget)
          .select("doc_id", "lang", "n_toks", "cum_toks")
          .orderBy("lang", "doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, lang,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_toks,
             |  ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             |        / len(string_split(text, ' ')), 6) AS uq
             |  FROM documents),
             |c AS (SELECT doc_id, lang, n_toks,
             |        CAST(SUM(n_toks) OVER (PARTITION BY lang
             |          ORDER BY uq DESC, doc_id
             |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
             |      FROM t)
             |SELECT doc_id, lang, n_toks, cum_toks FROM c
             |WHERE cum_toks <= 3000 ORDER BY lang, doc_id""".stripMargin)),

    // Mixture sampling — the other data-mixing primitive next to
    // q_token_budget: rebalance an over-represented language by capping
    // it at an expected K docs, admitting doc iff u(doc) < min(1, K/n_lang)
    // with u = md5(doc_id)[0,8) / 2³² — a deterministic uniform.
    // Deterministic beats a seeded RNG here: the same corpus always
    // yields the same sample regardless of partitioning, and ingesting
    // more documents never flips the admission of an untouched doc
    // (TABLESAMPLE and per-partition RNG are both layout-dependent).
    // At 100 TB: one tiny per-lang count aggregate (bounded by #languages)
    // broadcast into a narrow scan-filter — the corpus itself never
    // shuffles.
    GraftQuery(
      "q_mixture_sample",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val rates = docs.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("rate", least(lit(1.0), lit(100.0) / col("n_docs")))
        docs.join(broadcast(rates), "lang")
          .filter(graft.operators.Splits.uniform(col("doc_id")) < col("rate"))
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      Some("""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
             |r AS (SELECT lang, LEAST(1.0, 100.0 / n_docs) AS rate FROM c)
             |SELECT doc_id, lang FROM documents JOIN r USING (lang)
             |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             |        / 4294967296.0 < rate
             |ORDER BY doc_id""".stripMargin)),

    // Temperature-scaled mixture sampling — the multilingual-training
    // rebalance (mBERT/XLM-R style): sample group i at share
    // n_i^α / Σ n_j^α with α < 1, upweighting low-resource groups
    // without the hard cap of q_mixture_sample. Expected total K docs;
    // rate_i = min(1, K·q_i/n_i), admission by the same md5-uniform
    // (layout-independent, re-ingestion-stable). Rates round to 6 so a
    // last-ulp pow/sum divergence between engines cannot flip an
    // admission. Same 100 TB shape: a #groups-sized aggregate broadcast
    // into a narrow scan filter; the corpus never shuffles.
    GraftQuery(
      "q_temp_sample",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
          .withColumn("w", pow(col("n_docs").cast("double"), lit(0.3)))
        val tot = counts.agg(sum("w").as("w_tot"))
        val rates = counts.crossJoin(broadcast(tot))
          .withColumn("rate",
            round(least(lit(1.0),
              lit(200.0) * col("w") / col("w_tot") / col("n_docs")), 6))
        docs.join(broadcast(rates.select("source", "rate")), "source")
          .filter(graft.operators.Splits.uniform(col("doc_id")) < col("rate"))
          .select("doc_id", "source")
          .orderBy("doc_id")
      },
      Some("""WITH c AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n_docs
             |           FROM documents GROUP BY 1),
             |w AS (SELECT source, n_docs, POWER(n_docs, 0.3) AS w FROM c),
             |t AS (SELECT SUM(w) AS w_tot FROM w),
             |r AS (SELECT source,
             |        ROUND(LEAST(1.0, 200.0 * w / w_tot / n_docs), 6) AS rate
             |      FROM w CROSS JOIN t)
             |SELECT doc_id, source FROM documents JOIN r USING (source)
             |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             |        / 4294967296.0 < rate
             |ORDER BY doc_id""".stripMargin)),

    // Weighted sampling without replacement (Efraimidis–Spirakis,
    // Splits.weightedSample): top-50 orders by ln(u)/w with w =
    // price/1e5 — ONE narrow pass + TakeOrderedAndProject, the 100 TB
    // weighted-sampling shape (no global cumulative sum, no rejection
    // loop, mergeable per partition). Deterministic md5-uniform (salted
    // #ws) and an 8-decimal key round on both sides so a last-ulp
    // LN/division difference between engines cannot reorder the cut.
    GraftQuery(
      "q_weighted_sample",
      (s, d) =>
        graft.operators.Splits.weightedSample(
          Tables.orders(s, d)
            .withColumn("graft_w", col("o_totalprice") / lit(100000.0)),
          "o_orderkey", "graft_w", k = 50)
          .select("o_orderkey", "o_totalprice", "es_key")
          .orderBy(col("es_key").desc, col("o_orderkey")),
      Some("""SELECT o_orderkey, o_totalprice, es_key FROM (
             |  SELECT o_orderkey, o_totalprice,
             |    ROUND(LN((('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || '#ws'),
             |                1, 8))::BIGINT + 0.5) / 4294967296.0)
             |          / (CAST(o_totalprice AS DOUBLE) / 100000.0), 8) AS es_key
             |  FROM orders) t
             |ORDER BY es_key DESC, o_orderkey LIMIT 50""".stripMargin)),

    // Deterministic train/val/test split — the reproducibility primitive
    // under every training run: assign each doc to a split by where its
    // md5-uniform lands in [0, .9), [.9, .95), [.95, 1). Hash-ranged
    // (not randomized) so the split is stable across runs, engines, and
    // re-partitioning, and a re-ingested corpus never moves an untouched
    // doc between splits — leakage-safe by construction. Stateless
    // per-row map: no shuffle, works identically on a stream.
    GraftQuery(
      "q_train_split",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            graft.operators.Splits.split(col("doc_id")).as("split"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN u < 0.9 THEN 'train'
             |       WHEN u < 0.95 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM (SELECT doc_id,
             |        ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             |          / 4294967296.0 AS u
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // Deterministic GLOBAL TRAINING SHUFFLE (Splits.shuffleKey/
    // shuffleShard — the ordering stage between curation and delivery):
    // every doc gets a per-epoch md5 shuffle key; shard = first 8 hex
    // digits mod 16, position = rank within the shard by (key, id). A
    // re-run, a resumed job, or the DuckDB oracle reproduces the SAME
    // permutation; epoch in the salt re-randomizes between epochs.
    // Plan shape at 100 TB: narrow projection + ONE exchange on shard
    // (the window partition) — never a global sort of the corpus.
    GraftQuery(
      "q_global_shuffle",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard")
          .orderBy(col("graft_k"), col("doc_id"))
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            graft.operators.Splits.shuffleShard(col("doc_id"), 16, epoch = 1)
              .as("shard"),
            graft.operators.Splits.shuffleKey(col("doc_id"), epoch = 1)
              .as("graft_k"))
          .withColumn("pos", row_number().over(w).cast("long"))
          .select("doc_id", "shard", "pos")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, shard,
             |  CAST(row_number() OVER (PARTITION BY shard
             |    ORDER BY k, doc_id) AS BIGINT) AS pos
             |FROM (SELECT doc_id,
             |        CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#shuf1'), 1, 8))::BIGINT
             |          % 16 AS INTEGER) AS shard,
             |        md5(CAST(doc_id AS VARCHAR) || '#shuf1') AS k
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // Per-source document cap — the domain-cap crawl-curation step: keep
    // at most N docs per source, preferring the longest (tie → lower
    // id), so one over-crawled domain cannot dominate the training mix.
    // Bounded-heap top-N per source (map-side reduction; the shuffle
    // carries ≤ N rows per source, never the corpus).
    GraftQuery(
      "q_source_cap",
      (s, d) =>
        graft.operators.TopK.perKey(
            Tables.documents(s, d)
              .select(col("source"), col("n_chars"), (-col("doc_id")).as("graft_nid")),
            keys = Seq("source"), ordering = Seq("n_chars", "graft_nid"), k = 20)
          .select(col("source"), (-col("graft_nid")).as("doc_id"), col("n_chars"))
          .orderBy("source", "doc_id"),
      Some("""SELECT source, doc_id, n_chars FROM (
             |  SELECT source, doc_id, n_chars,
             |         row_number() OVER (PARTITION BY source
             |           ORDER BY n_chars DESC, doc_id) AS rk
             |  FROM documents) t
             |WHERE rk <= 20 ORDER BY source, doc_id""".stripMargin)),

    // Corpus data card — the one-row summary a dataset ships with:
    // volume (docs, tokens, chars), composition (sources, langs, top
    // lang share), and shape (char-length quartiles). ONE pass over the
    // corpus (single aggregate; the token count is the same codegen
    // expression every curation query uses) plus a lang-mode argmax on
    // the ≤|langs| aggregate.
    GraftQuery(
      "q_data_card",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val langs = docs.groupBy("lang").agg(count(lit(1)).as("graft_n"))
        val top = langs.agg(
          max(struct(col("graft_n"), col("lang"))).as("graft_top"),
          count(lit(1)).as("n_langs"),
          sum("graft_n").as("graft_tot"))
          .select(col("n_langs"),
            col("graft_top.lang").as("top_lang"),
            round(col("graft_top.graft_n") / col("graft_tot"), 6)
              .as("top_lang_share"))
        docs.agg(
            count(lit(1)).as("n_docs"),
            countDistinct("source").as("n_sources"),
            sum(graft.functions.TextFunctions.tokenCount(col("text")))
              .as("n_tokens"),
            sum("n_chars").as("n_chars"),
            round(expr("percentile(n_chars, 0.25)"), 2).as("chars_q1"),
            round(expr("percentile(n_chars, 0.5)"), 2).as("chars_med"),
            round(expr("percentile(n_chars, 0.75)"), 2).as("chars_q3"))
          .crossJoin(broadcast(top))
      },
      Some("""WITH l AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
             |top AS (SELECT count(*) AS n_langs,
             |          max(struct_pack(n := n, lang := lang)).lang AS top_lang,
             |          ROUND(max(n) / sum(n), 6) AS top_lang_share
             |        FROM l)
             |SELECT count(*) AS n_docs,
             |       count(DISTINCT source) AS n_sources,
             |       CAST(sum(CAST(LEN(regexp_extract_all(text,
             |         '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT)) AS BIGINT)
             |         AS n_tokens,
             |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
             |       ROUND(quantile_cont(n_chars, 0.25), 2) AS chars_q1,
             |       ROUND(quantile_cont(n_chars, 0.5), 2) AS chars_med,
             |       ROUND(quantile_cont(n_chars, 0.75), 2) AS chars_q3,
             |       (SELECT n_langs FROM top) AS n_langs,
             |       (SELECT top_lang FROM top) AS top_lang,
             |       (SELECT top_lang_share FROM top) AS top_lang_share
             |FROM documents""".stripMargin)),

    // Group-integrity split: assignment hashes the GROUP key (user), not
    // the row, so all of a user's events share a split — the
    // user-leakage guard (behavioral models memorize users; a user seen
    // in train must not appear in test). Same md5-uniform arithmetic as
    // q_train_split, applied one level up; the near-dup analogue is
    // q_split_dedup_safe.
    GraftQuery(
      "q_group_split",
      (s, d) =>
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            graft.operators.Splits.split(col("user_id")).as("split"))
          .orderBy("event_id"),
      Some("""SELECT event_id, user_id,
             |  CASE WHEN u < 0.9 THEN 'train'
             |       WHEN u < 0.95 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM (SELECT event_id, user_id,
             |        ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
             |          / 4294967296.0 AS u
             |      FROM events)
             |ORDER BY event_id""".stripMargin)),

    // Training-sequence packing (concat-then-chunk): each doc labeled with
    // the fixed-ctx sequence its first token lands in and the offset
    // inside it — the final batch-layout step of an LLM data pipeline.
    // Sharded cumsum (id % 8), never one global window task; sequences
    // never span shards, so shards pack in parallel at any scale. The
    // oracle replays the identical shard/cumsum/div arithmetic.
    GraftQuery(
      "q_seq_pack",
      (s, d) =>
        graft.operators.SeqPack.pack(
          Tables.documents(s, d), "doc_id", "text",
          ctxTokens = 2048, shards = 8)
          .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
             |  CAST(LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT)
             |    AS n_tokens FROM documents),
             |c AS (SELECT doc_id, shard, n_tokens,
             |        COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
             |      FROM t)
             |SELECT doc_id, shard, n_tokens,
             |       CAST(shard * 1000000000000 + cb // 2048 AS BIGINT) AS seq_id,
             |       CAST(cb % 2048 AS BIGINT) AS seq_off
             |FROM c ORDER BY doc_id""".stripMargin)),

    // Whole-document best-fit packing — the no-doc-splitting layout
    // (SeqPack.packBestFit): best-fit-decreasing bins per shard, docs
    // never straddle a sequence boundary, padding measured. The packing
    // is sequential state, but it IS deterministic, so the oracle
    // replays it exactly with a recursive CTE carrying the open-bin list
    // per shard: docs sorted (tokens desc, id asc), candidate bins
    // filtered on remaining ≥ need, chosen by (tightest, lowest id) via
    // struct sort, fills tracked as 2048 − remaining. One recursion step
    // per doc per shard (shards advance in parallel rows). SeqPackSpec
    // additionally pins the property matrix (capacity, no-split, shard
    // containment, utilization ≥ naive first-fit, partitioning
    // determinism).
    GraftQuery(
      "q_seq_pack_bfd",
      (s, d) =>
        graft.operators.SeqPack.packBestFit(
          Tables.documents(s, d), "doc_id", "text",
          ctxTokens = 2048, shards = 8)
          .orderBy("doc_id"),
      Some("""WITH RECURSIVE
             |d0 AS (
             |  SELECT doc_id,
             |         CAST(doc_id % 8 AS INTEGER) AS shard,
             |         CAST(LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n
             |  FROM documents),
             |sorted AS (
             |  SELECT shard,
             |         list(STRUCT_PACK(id := doc_id, n := n) ORDER BY n DESC, doc_id ASC) AS ds
             |  FROM d0 GROUP BY shard),
             |st AS (
             |  SELECT shard, ds, 1 AS i,
             |         CAST([] AS STRUCT(rem BIGINT, b BIGINT)[]) AS bins,
             |         CAST(0 AS BIGINT) AS nxt,
             |         CAST([] AS STRUCT(id BIGINT, n BIGINT, b BIGINT, off BIGINT)[]) AS placed
             |  FROM sorted
             |  UNION ALL
             |  SELECT shard, ds, i + 1,
             |         CASE WHEN fresh THEN
             |                CASE WHEN d.n < 2048
             |                  THEN list_append(bins, STRUCT_PACK(rem := 2048 - d.n, b := nxt))
             |                  ELSE bins END
             |              ELSE list_transform(bins, x ->
             |                CASE WHEN x.b = chosen.b
             |                  THEN STRUCT_PACK(rem := x.rem - need, b := x.b)
             |                  ELSE x END)
             |         END AS bins,
             |         CASE WHEN fresh THEN nxt + 1 ELSE nxt END AS nxt,
             |         list_append(placed, STRUCT_PACK(
             |           id := d.id, n := d.n,
             |           b := CASE WHEN fresh THEN nxt ELSE chosen.b END,
             |           off := CASE WHEN fresh THEN CAST(0 AS BIGINT) ELSE 2048 - chosen.rem END)) AS placed
             |  FROM (
             |    SELECT shard, ds, i, bins, nxt, placed,
             |           ds[i] AS d,
             |           LEAST(ds[i].n, 2048) AS need,
             |           (list_sort(list_filter(bins, x -> x.rem >= LEAST(ds[i].n, 2048)))[1] IS NULL
             |             OR ds[i].n > 2048) AS fresh,
             |           CASE WHEN ds[i].n > 2048 THEN NULL
             |                ELSE list_sort(list_filter(bins, x -> x.rem >= LEAST(ds[i].n, 2048)))[1] END AS chosen
             |    FROM st WHERE i <= len(ds)) s),
             |fin AS (SELECT shard, placed FROM st WHERE i = len(ds) + 1),
             |u AS (SELECT shard, unnest(placed) AS p FROM fin)
             |SELECT p.id AS doc_id, shard, p.n AS n_tokens,
             |       CAST(shard * 1000000000000 + p.b AS BIGINT) AS seq_id,
             |       p.off AS seq_off,
             |       p.n > 2048 AS truncated
             |FROM u ORDER BY doc_id""".stripMargin)),

    // Bigram language-model score with add-k smoothing — one step up the
    // perplexity-filter ladder from q_unigram_logprob: score each doc by
    // the average negative log-probability of its bigrams under the
    // corpus's own bigram distribution, P(w2|w1) = (c(w1,w2) + k) /
    // (c(w1·) + k·V). Catches word-salad documents whose unigram mix
    // looks normal but whose transitions are improbable. Bigram
    // extraction is a narrow zip_with over the token array (no
    // positional self-join — that would shuffle at token grain); both
    // count tables are vocabulary-shaped and go through the measured
    // broadcast switch; the scalar V broadcasts as one row. Docs with
    // <2 tokens have no bigrams and drop out in BOTH engines (group-by
    // over an empty set), so the contract stays aligned.
    // Cross-corpus LM scoring — the perplexity filter against a CLEAN
    // REFERENCE, not the corpus itself: train an add-k unigram LM on the
    // reference slice (source='src0'), score EVERY doc by avg neg
    // log-prob with OOV mass from the union vocabulary. Self-corpus
    // scoring (q_unigram_logprob) can't flag a corpus-wide quality
    // drift — if everything is word salad, everything is typical; a
    // frozen reference can. Both count tables are vocabulary-shaped
    // (measured broadcast); OOV terms get c_ref = 0 via left join.
    GraftQuery(
      "q_xent_ref",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tok = docs
          .select(col("doc_id"), col("source"),
            explode(split(col("text"), " ")).as("term"))
        val refCnt = graft.operators.Joins.broadcastIfSmall(
          tok.filter(col("source") === "src0")
            .groupBy("term").agg(count(lit(1)).as("graft_nref")))
        // total ref tokens derives from the vocabulary-sized count table
        // (already materialized by the broadcast switch) — not a second
        // corpus-sized tokenize+filter pass
        val refTot = refCnt.agg(
          sum("graft_nref").cast("double").as("graft_ntot"))
        val vocab = tok.agg(
          countDistinct("term").cast("double").as("graft_v"))
        tok.join(refCnt, Seq("term"), "left")
          .crossJoin(broadcast(refTot)).crossJoin(broadcast(vocab))
          .groupBy("doc_id")
          .agg(round(avg(-log(
            (coalesce(col("graft_nref"), lit(0L)) + 0.5d) /
              (col("graft_ntot") + col("graft_v") * 0.5d))), 4)
            .as("xent_ref"),
            count(lit(1)).as("n_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, source,
             |            unnest(string_split(text, ' ')) AS term
             |          FROM documents),
             |rc AS (SELECT term, count(*) AS nref FROM t
             |       WHERE source = 'src0' GROUP BY 1),
             |rt AS (SELECT CAST(count(*) AS DOUBLE) AS ntot FROM t
             |       WHERE source = 'src0'),
             |vv AS (SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v FROM t)
             |SELECT doc_id,
             |  ROUND(AVG(-ln((COALESCE(nref, 0) + 0.5) / (ntot + 0.5 * v))), 4)
             |    AS xent_ref,
             |  count(*) AS n_tokens
             |FROM t LEFT JOIN rc USING (term) CROSS JOIN rt CROSS JOIN vv
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    GraftQuery(
      "q_bigram_logprob",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
        val bg = docs
          .select(col("doc_id"), explode(expr(
            "zip_with(slice(toks, 1, size(toks)-1), slice(toks, 2, size(toks)-1), " +
              "(a, b) -> named_struct('w1', a, 'w2', b))")).as("bg"))
          .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
        val bigramCnt = graft.operators.Joins.broadcastIfSmall(
          bg.groupBy("w1", "w2").agg(count(lit(1)).as("n2")))
        val contextCnt = graft.operators.Joins.broadcastIfSmall(
          bg.groupBy("w1").agg(count(lit(1)).as("n1")))
        val vocab = docs.select(explode(col("toks")).as("term"))
          .agg(countDistinct("term").cast("double").as("v"))
        bg.join(bigramCnt, Seq("w1", "w2")).join(contextCnt, Seq("w1"))
          .crossJoin(broadcast(vocab))
          .groupBy("doc_id")
          .agg(round(avg(-log((col("n2") + 0.5d) / (col("n1") + col("v") * 0.5d))), 4)
            .as("avg_neg_logp"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |ix AS (SELECT doc_id, toks,
             |         unnest(generate_series(1, len(toks) - 1)) AS i FROM t),
             |bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM ix),
             |bc AS (SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY 1, 2),
             |cc AS (SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY 1),
             |vv AS (SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS v
             |       FROM (SELECT unnest(toks) AS term FROM t) u)
             |SELECT doc_id,
             |       ROUND(AVG(-ln((n2 + 0.5) / (n1 + 0.5 * v))), 4) AS avg_neg_logp
             |FROM bg JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN vv
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Unigram language-model quality score — the cheap perplexity proxy a
    // curation pipeline runs where a real LM is too expensive: score each
    // doc by the average negative log-probability of its tokens under the
    // corpus's own unigram distribution (high = surprising/rare tokens,
    // low = boilerplate). The vocabulary side goes through the measured
    // broadcast switch; the corpus-total is one scalar broadcast. At
    // 100 TB: two passes over tokens (freq build + score), both
    // partial-aggregated, vocabulary broadcast by Heaps' law.
    GraftQuery(
      "q_unigram_logprob",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val freq = graft.operators.Joins.broadcastIfSmall(
          tok.groupBy("term").agg(count(lit(1)).as("n")))
        val tot = tok.agg(count(lit(1)).as("n_total"))
        tok.join(freq, "term").crossJoin(broadcast(tot))
          .groupBy("doc_id")
          .agg(round(avg(-log(col("n").cast("double") / col("n_total"))), 4)
            .as("avg_neg_logp"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |             FROM documents),
             |freq AS (SELECT term, count(*) AS n FROM tok GROUP BY 1),
             |tot AS (SELECT count(*) AS n_total FROM tok)
             |SELECT doc_id,
             |       ROUND(AVG(-ln(CAST(freq.n AS DOUBLE)/tot.n_total)), 4)
             |         AS avg_neg_logp
             |FROM tok JOIN freq USING (term) CROSS JOIN tot
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Vocabulary heavy hitters: exact top-20 terms by frequency. The
    // groupBy partial-aggregates map-side (term counts combine before the
    // shuffle) and the top-20 runs as TakeOrderedAndProject — no global
    // sort materializes. Tie-broken on term so the cut is total.
    GraftQuery(
      "q_heavy_hitters",
      (s, d) =>
        Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("term"))
          .groupBy("term").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("term")).limit(20),
      Some("""SELECT term, COUNT(*) AS n
             |FROM (SELECT unnest(string_split(text, ' ')) AS term
             |      FROM documents) t
             |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin)),

    // HTML → text extraction — the first stage of a crawl pipeline:
    // drop script/style bodies and comments, strip tags, decode the
    // common entities, collapse whitespace. Pure per-row regexp chain
    // (codegen'd, no shuffle, scan-bound at any corpus size). The HTML
    // wrapper is synthesized from the fixture text so the transform is
    // observable; entity decode happens AFTER tag stripping (the
    // standard pipeline order — escaped markup in text must not become
    // live tags before stripping, here they surface as harmless text).
    // No regex backreferences: DuckDB's RE2 has none, so script/style
    // strip separately.
    GraftQuery(
      "q_html_strip",
      (s, d) => {
        val html = concat(
          lit("<html><head><title>t</title><script>var x=1;</script>" +
            "<style>p{color:red}</style></head><body><p>"),
          regexp_replace(col("text"), " ", "&nbsp; "),
          lit("</p><!-- crawler note --><div>footer &amp; nav</div></body></html>"))
        val stripped = trim(regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(html, "<script[^>]*>.*?</script>", ""),
                    "<style[^>]*>.*?</style>", ""),
                  "<!--.*?-->", ""),
                "<[^>]+>", " "),
              "&nbsp;", " "),
            "&amp;", "&"),
          "\\s+", " "))
        Tables.documents(s, d)
          .select(col("doc_id"), stripped.as("stripped"),
            length(stripped).as("n_stripped"))
          .orderBy("doc_id")
      },
      Some("""WITH raw AS (SELECT doc_id,
             |  '<html><head><title>t</title><script>var x=1;</script>' ||
             |  '<style>p{color:red}</style></head><body><p>' ||
             |  replace(text, ' ', '&nbsp; ') ||
             |  '</p><!-- crawler note --><div>footer &amp; nav</div></body></html>' AS html
             |  FROM documents)
             |SELECT doc_id,
             |  trim(regexp_replace(
             |    replace(
             |      replace(
             |        regexp_replace(
             |          regexp_replace(
             |            regexp_replace(
             |              regexp_replace(html, '<script[^>]*>.*?</script>', '', 'g'),
             |              '<style[^>]*>.*?</style>', '', 'g'),
             |            '<!--.*?-->', '', 'g'),
             |          '<[^>]+>', ' ', 'g'),
             |        '&nbsp;', ' '),
             |      '&amp;', '&'),
             |    '\s+', ' ', 'g')) AS stripped,
             |  CAST(length(trim(regexp_replace(
             |    replace(
             |      replace(
             |        regexp_replace(
             |          regexp_replace(
             |            regexp_replace(
             |              regexp_replace(html, '<script[^>]*>.*?</script>', '', 'g'),
             |              '<style[^>]*>.*?</style>', '', 'g'),
             |            '<!--.*?-->', '', 'g'),
             |          '<[^>]+>', ' ', 'g'),
             |        '&nbsp;', ' '),
             |      '&amp;', '&'),
             |    '\s+', ' ', 'g'))) AS INT) AS n_stripped
             |FROM raw ORDER BY doc_id""".stripMargin)),

    // Benchmark decontamination: docs sharing any 8-gram with a held-out
    // "benchmark" carve (every 97th document stands in for an eval set).
    // Shingle-hash broadcast semi-join. ORACLE-gated: the Spark side
    // matches on xxhash64(8-gram) while DuckDB matches on the raw 8-gram
    // STRINGS — equal up to a 64-bit hash collision (~#grams²/2⁶⁵,
    // negligible), so the hash-based scalable path must reproduce the
    // exact string-overlap semantics. Tokenization mirrors ShingleHashes:
    // \s+ split, single-space join, whole-text shingle when ≤ n tokens
    // (DuckDB list slicing clamps, so i=1 over a short list IS the
    // whole-text case).
    GraftQuery(
      "q_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val benchmark = docs.filter(col("doc_id") % 97 === 0)
        Decontaminate.contaminatedIds(docs, "doc_id", "text", benchmark, "text", n = 8)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w
             |              FROM documents),
             |g AS (SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram
             |      FROM toks, UNNEST(range(1, greatest(len(w) - 7, 1) + 1)) AS t(i)),
             |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
             |SELECT DISTINCT doc_id FROM g JOIN bench USING (gram)
             |ORDER BY doc_id""".stripMargin)),

    // Graded decontamination: per-doc benchmark-overlap FRACTION over
    // distinct 8-grams (Decontaminate.contaminationFraction) — the
    // threshold form real pretraining curation uses. Spark counts
    // distinct fused xxhash shingle hashes (narrow array_distinct before
    // the explode); the oracle counts the distinct n-gram STRINGS —
    // equality of the counts IS the no-collision property the boolean
    // q_decontaminate gate already relies on.
    GraftQuery(
      "q_contamination",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val benchmark = docs.filter(col("doc_id") % 97 === 0)
        Decontaminate.contaminationFraction(
          docs, "doc_id", "text", benchmark, "text", n = 8)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w
             |              FROM documents),
             |g0 AS (SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram
             |       FROM toks, UNNEST(range(1, greatest(len(w) - 7, 1) + 1)) AS t(i)),
             |g AS (SELECT DISTINCT doc_id, gram FROM g0),
             |bench AS (SELECT DISTINCT gram FROM g0 WHERE doc_id % 97 = 0),
             |j AS (SELECT g.doc_id,
             |        CASE WHEN b.gram IS NULL THEN 0 ELSE 1 END AS hit
             |      FROM g LEFT JOIN bench b ON g.gram = b.gram)
             |SELECT doc_id, COUNT(*) AS n_grams,
             |       ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 4) AS frac
             |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // Cross-corpus near-dup filter (operators/Dedup.dedupAgainst): drop
    // corpus docs with a near-duplicate in a REFERENCE corpus that is
    // itself left untouched — "dedup the new crawl against last month's
    // corpus". Even/odd doc ids stand in for the two corpora. The oracle
    // is the exact O(n×m) 3-gram Jaccard anti-join; the engine's
    // LSH-blocked path must reproduce it exactly (same coverage math the
    // q_ngram_jaccard gate already proves for the self-join form).
    GraftQuery(
      "q_dedup_against",
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.operators.Dedup.dedupAgainst(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", shingleN = 3, threshold = 0.5)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w
             |           FROM documents),
             |g AS (SELECT doc_id,
             |        CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
             |             ELSE list_distinct([array_to_string(w[i:i+2], ' ')
             |                                 FOR i IN range(1, len(w)-1)])
             |        END AS sh
             |      FROM t),
             |c AS (SELECT * FROM g WHERE doc_id % 2 = 0),
             |r AS (SELECT * FROM g WHERE doc_id % 2 = 1),
             |dup AS (SELECT DISTINCT c.doc_id FROM c JOIN r ON
             |  CAST(len(list_intersect(c.sh, r.sh)) AS DOUBLE) /
             |    len(list_distinct(list_concat(c.sh, r.sh))) >= 0.5)
             |SELECT * FROM documents
             |WHERE doc_id % 2 = 0 AND doc_id NOT IN (SELECT doc_id FROM dup)
             |ORDER BY doc_id""".stripMargin)),

    // Fractional-epoch resampling (Splits.epochCopies): weight the corpus
    // at 2.5 epochs — every doc twice, HALF the docs (by salted
    // md5-uniform) a third time, with an explicit copy index per
    // materialized copy. Layout-independent and re-ingestion-stable like
    // every admission in this engine; the explode is narrow (no shuffle
    // at all — PlanInvariantsSpec pins it).
    GraftQuery(
      "q_epoch_sample",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            graft.operators.Splits.epochCopies(col("doc_id"), 2.5).as("n"))
          .select(
            col("doc_id"),
            explode(expr("sequence(0L, n - 1)")).as("copy_idx"))
          .orderBy("doc_id", "copy_idx"),
      Some("""SELECT doc_id,
             |  unnest(generate_series(0, n - 1)) AS copy_idx
             |FROM (SELECT doc_id,
             |        2 + CASE WHEN
             |          ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#ep'), 1, 8))::BIGINT
             |            / 4294967296.0 < 0.5 THEN 1 ELSE 0 END AS n
             |      FROM documents)
             |ORDER BY doc_id, copy_idx""".stripMargin)),

    // Hashed-feature quality classifier SCORING (QualityClassifier): the
    // fasttext-style linear filter applied as a narrow codegen projection
    // — literal weight array, md5-bucket lookup, ordered fold, sigmoid.
    // The oracle replays featurization + weights + sigmoid in SQL, which
    // is the point of md5 bucketing (an engine-private hash seed could
    // not be cross-checked). Weights here are a fixed synthetic ramp so
    // both engines state them in closed form; TRAINING (driver-local
    // deterministic GD) is gated by QualityClassifierSpec instead.
    GraftQuery(
      "q_quality_clf",
      (s, d) => {
        val model = graft.operators.QualityClassifier.Model(
          dim = 64,
          bias = -0.5,
          weights = Array.tabulate(64)(b => ((b * 37) % 21 - 10) / 10.0))
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            round(graft.operators.QualityClassifier.score(col("text"), model), 6)
              .as("score"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, ROUND(1.0 / (1.0 + EXP(-s)), 6) AS score
             |FROM (SELECT doc_id,
             |        -0.5 + COALESCE(list_sum(list_transform(
             |          string_split_regex(lower(trim(text)), '\s+'),
             |          t -> CAST(((('0x' || substring(md5(t), 1, 4))::BIGINT % 64)
             |                     * 37) % 21 - 10 AS DOUBLE) / 10.0)), 0.0) AS s
             |      FROM documents) t
             |ORDER BY doc_id""".stripMargin)),

    // Per-group feature scaling — z-score and min-max standardization of
    // each event's value within its event_type, the feature-engineering
    // normalization step before any model sees a column. ONE bounded
    // group-stats aggregate broadcast back onto the fact scan (the
    // q_outliers fence shape): no window over the fact table, no second
    // scan. mu/sd are quantized at 6 decimals IN THE AGGREGATE on both
    // sides: avg/stddev carry partial-aggregation-order noise (~1e-12),
    // and a raw z within that epsilon of a .xx5 boundary flips the final
    // round(…, 2) between engines/partitionings. Quantizing the group
    // stats first makes both engines compute z from bit-identical
    // inputs, so the final round is deterministic. min/max are exact
    // selections and need no quantization.
    GraftQuery(
      "q_feature_scale",
      (s, d) => {
        val e = Tables.events(s, d)
        val stats = e.groupBy("event_type").agg(
          round(avg("value"), 6).as("graft_mu"),
          round(expr("stddev_samp(value)"), 6).as("graft_sd"),
          min("value").as("graft_mn"),
          max("value").as("graft_mx"))
        e.join(broadcast(stats), Seq("event_type"))
          .select(
            col("event_id"), col("event_type"),
            // nz: a tiny negative z rounds to IEEE -0.0 and DuckDB keeps
            // the sign bit while Spark does not; -0.0+0.0 = +0.0 on both
            // engines, making the byte hash deterministic (hazard class 4).
            nz(round((col("value") - col("graft_mu")) / col("graft_sd"), 2))
              .as("z"),
            round((col("value") - col("graft_mn")) /
              (col("graft_mx") - col("graft_mn")), 6).as("mm"))
          .orderBy("event_id")
      },
      Some("""WITH st AS (SELECT event_type,
             |              ROUND(avg(value), 6) AS mu,
             |              ROUND(stddev_samp(value), 6) AS sd,
             |              min(value) AS mn, max(value) AS mx
             |            FROM events GROUP BY 1)
             |SELECT event_id, event_type,
             |       ROUND((value - mu) / sd, 2) + 0.0 AS z,
             |       ROUND((value - mn) / (mx - mn), 6) AS mm
             |FROM events JOIN st USING (event_type)
             |ORDER BY event_id""".stripMargin)),

    // Robust per-group scaling — (value − median)/IQR plus winsorized
    // value at the Tukey fences — the outlier-immune companion to
    // q_feature_scale's z-score (one extreme row cannot move a median
    // or an IQR the way it moves a mean). Same fence shape: ONE bounded
    // group-stats aggregate broadcast onto the fact scan. Quantiles are
    // exact interpolated percentiles (Spark percentile ≡ DuckDB
    // quantile_cont — the q_percentile parity), quantized at 6 in the
    // aggregate per the determinism rule before any downstream division.
    GraftQuery(
      "q_robust_scale",
      (s, d) => {
        val e = Tables.events(s, d)
        val st = e.groupBy("event_type").agg(
          round(expr("percentile(value, 0.5)"), 6).as("graft_med"),
          round(expr("percentile(value, 0.25)"), 6).as("graft_q1"),
          round(expr("percentile(value, 0.75)"), 6).as("graft_q3"))
        e.join(broadcast(st), Seq("event_type"))
          .withColumn("graft_iqr", col("graft_q3") - col("graft_q1"))
          .select(
            col("event_id"), col("event_type"),
            nz(round((col("value") - col("graft_med")) / col("graft_iqr"), 4))
              .as("rs"), // hazard class 4
            round(least(
              greatest(col("value"),
                col("graft_q1") - lit(1.5) * col("graft_iqr")),
              col("graft_q3") + lit(1.5) * col("graft_iqr")), 6)
              .as("winsor"))
          .orderBy("event_id")
      },
      Some("""WITH st AS (SELECT event_type,
             |    ROUND(quantile_cont(value, 0.5), 6) AS med,
             |    ROUND(quantile_cont(value, 0.25), 6) AS q1,
             |    ROUND(quantile_cont(value, 0.75), 6) AS q3
             |  FROM events GROUP BY 1)
             |SELECT event_id, event_type,
             |  ROUND((value - med) / (q3 - q1), 4) + 0.0 AS rs,
             |  ROUND(LEAST(GREATEST(value, q1 - 1.5 * (q3 - q1)),
             |              q3 + 1.5 * (q3 - q1)), 6) AS winsor
             |FROM events JOIN st USING (event_type)
             |ORDER BY event_id""".stripMargin)),

    // LEAVE-ONE-OUT target encoding with a smoothing prior — the
    // leakage-correct categorical encoder: each row's category is scored
    // by the mean target of the OTHER rows in its category
    // ((Σ−vᵢ + m·prior)/(n−1+m)), so a row never sees its own label,
    // and rare categories shrink toward the global prior instead of
    // memorizing their few labels. Shape: one category-sums aggregate +
    // one global prior, both broadcast onto the fact scan — the same
    // no-window, no-second-scan plan as q_feature_scale. The smoothing
    // constant is spelled CAST(10 AS DOUBLE) on both sides (bare
    // integer/decimal literals type differently across engines).
    GraftQuery(
      "q_target_encode",
      (s, d) => {
        val e = Tables.events(s, d)
        // graft_s / graft_prior are quantized at 6 decimals in the agg on
        // both sides: double sum/avg carry partial-aggregation-order
        // noise, and the downstream round(…, 4) must see bit-identical
        // inputs (same hazard as q_feature_scale).
        val g = e.groupBy("event_type").agg(
          round(sum("value"), 6).as("graft_s"), count(lit(1)).as("graft_n"))
        val p = e.agg(round(avg("value"), 6).as("graft_prior"))
        e.join(broadcast(g), Seq("event_type"))
          .crossJoin(broadcast(p))
          .select(col("event_id"),
            nz(round((col("graft_s") - col("value") +
              expr("CAST(10 AS DOUBLE)") * col("graft_prior")) /
              (col("graft_n") - lit(1) + lit(10)), 4)).as("te")) // hazard class 4
          .orderBy("event_id")
      },
      Some("""WITH g AS (SELECT event_type, ROUND(sum(value), 6) AS s,
             |                  count(*) AS n
             |           FROM events GROUP BY 1),
             |p AS (SELECT ROUND(avg(value), 6) AS prior FROM events)
             |SELECT event_id,
             |  ROUND((g.s - e.value + CAST(10 AS DOUBLE) * p.prior)
             |        / (g.n - 1 + 10), 4) + 0.0 AS te
             |FROM events e JOIN g USING (event_type) CROSS JOIN p
             |ORDER BY event_id""".stripMargin)))
}
