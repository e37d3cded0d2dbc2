package graft.queries

import graft.GraftQuery
import graft.operators.{IncrementalAgg, Scd2}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Store-maintenance operators, oracle-gated end to end: SCD Type 2
  * dimension history and incremental aggregate maintenance. Like q_merge,
  * each run drives the real operator against a scratch parquet store and
  * the oracle states the expected post-maintenance table directly in SQL.
  */
object StoreQueries {

  val all: Seq[GraftQuery] = Seq(

    // SCD2: batch 1 loads every supplier at t1; batch 2 (keys ≤ 30)
    // renames the even keys (→ close + re-open), repeats the odd keys
    // verbatim (→ no churn) and adds brand-new keys. The oracle spells
    // out the resulting version table. The store is COMMIT-LOG backed
    // (CommitLog.scala): both applies publish manifests via the
    // optimistic CAS protocol, so the gated row runs on the
    // transaction-log path end to end.
    GraftQuery(
      "q_scd2",
      (s, d) => {
        val tmp = graft.GraftQuery.tempDir("graft_scd2q") + "/dim"
        val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))
        Scd2.apply(s, tmp, sup, "s_suppkey", "2024-01-01 00:00:00")
        val b2 = sup.filter(col("s_suppkey") <= 30)
          .withColumn("s_name",
            when(col("s_suppkey") % 2 === 0, upper(col("s_name")))
              .otherwise(col("s_name")))
          .unionByName(
            sup.filter(col("s_suppkey") <= 30).select(
              (col("s_suppkey") + 1000000).as("s_suppkey"),
              concat(lit("NEW_"), col("s_suppkey").cast("string")).as("s_name")))
        Scd2.apply(s, tmp, b2, "s_suppkey", "2024-02-01 00:00:00")
          .orderBy("s_suppkey", "valid_from")
      },
      Some("""SELECT * FROM (
             |  SELECT s_suppkey, s_name,
             |         TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
             |         TIMESTAMP '2024-02-01 00:00:00' AS valid_to,
             |         FALSE AS is_current
             |  FROM supplier WHERE s_suppkey <= 30 AND s_suppkey % 2 = 0
             |  UNION ALL
             |  SELECT s_suppkey, UPPER(s_name),
             |         TIMESTAMP '2024-02-01 00:00:00', NULL, TRUE
             |  FROM supplier WHERE s_suppkey <= 30 AND s_suppkey % 2 = 0
             |  UNION ALL
             |  SELECT s_suppkey, s_name,
             |         TIMESTAMP '2024-01-01 00:00:00', NULL, TRUE
             |  FROM supplier WHERE NOT (s_suppkey <= 30 AND s_suppkey % 2 = 0)
             |  UNION ALL
             |  SELECT s_suppkey + 1000000, 'NEW_' || CAST(s_suppkey AS VARCHAR),
             |         TIMESTAMP '2024-02-01 00:00:00', NULL, TRUE
             |  FROM supplier WHERE s_suppkey <= 30
             |) t ORDER BY s_suppkey, valid_from""".stripMargin)),

    // Snapshot diff (table-level CDC): old = customer, new = customer
    // with every 10th key dropped, every 7th surviving key renamed, and
    // 50 synthetic keys added. The oracle spells the change feed out.
    GraftQuery(
      "q_snapshot_diff",
      (s, d) => {
        val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
        val neu = cust.filter(col("c_custkey") % 10 =!= 0)
          .withColumn("c_name",
            when(col("c_custkey") % 7 === 0, upper(col("c_name")))
              .otherwise(col("c_name")))
          .unionByName(cust.filter(col("c_custkey") < 50).select(
            (col("c_custkey") + 1000000).as("c_custkey"),
            concat(lit("NEW_"), col("c_custkey").cast("string")).as("c_name")))
        graft.operators.SnapshotDiff.diff(cust, neu, Seq("c_custkey"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, change_type FROM (
             |  SELECT c_custkey, c_name, 'delete' AS change_type
             |  FROM customer WHERE c_custkey % 10 = 0
             |  UNION ALL
             |  SELECT c_custkey, UPPER(c_name), 'update'
             |  FROM customer WHERE c_custkey % 10 <> 0 AND c_custkey % 7 = 0
             |  UNION ALL
             |  SELECT c_custkey + 1000000, 'NEW_' || CAST(c_custkey AS VARCHAR), 'insert'
             |  FROM customer WHERE c_custkey < 50
             |) t ORDER BY c_custkey""".stripMargin)),

    // Data-quality report: one row per declared check with its violation
    // count (NotNull/predicate checks fold into ONE table pass; Unique
    // pays one groupBy; referential integrity one broadcast anti-join).
    GraftQuery(
      "q_quality",
      (s, d) => {
        import graft.operators.Quality
        Quality.report(Tables.orders(s, d), Seq(
          Quality.NotNull("o_custkey"),
          Quality.Satisfies("positive_total", "o_totalprice > 0"),
          Quality.Satisfies("no_urgent", "o_orderpriority <> '1-URGENT'"),
          Quality.Unique(Seq("o_orderkey")),
          Quality.RefIntegrity("o_custkey", Tables.customer(s, d), "c_custkey")))
          .orderBy("check")
      },
      Some("""SELECT * FROM (
             |  SELECT 'not_null_o_custkey' AS "check",
             |         count(*) FILTER (WHERE o_custkey IS NULL) AS violations FROM orders
             |  UNION ALL
             |  SELECT 'positive_total', count(*) FILTER (WHERE NOT (o_totalprice > 0))
             |  FROM orders
             |  UNION ALL
             |  SELECT 'no_urgent',
             |         count(*) FILTER (WHERE NOT (o_orderpriority <> '1-URGENT'))
             |  FROM orders
             |  UNION ALL
             |  SELECT 'unique_o_orderkey', count(*) - count(DISTINCT o_orderkey)
             |  FROM orders
             |  UNION ALL
             |  SELECT 'ref_o_custkey', count(*) FROM orders
             |  WHERE o_custkey IS NOT NULL
             |    AND o_custkey NOT IN (SELECT c_custkey FROM customer)
             |) t ORDER BY "check"""".stripMargin)),

    // Incremental aggregation: three disjoint batches of lineitem folded
    // into the store must equal one direct aggregation of the whole
    // table — the materialized-view maintenance identity. The store is
    // COMMIT-LOG backed (CommitLog.scala): each fold publishes a
    // manifest, so the gated row runs the transaction-log path.
    GraftQuery(
      "q_incr_agg",
      (s, d) => {
        val tmp = graft.GraftQuery.tempDir("graft_incrq") + "/agg"
        val li = Tables.lineitem(s, d)
        (0 until 3).foreach { i =>
          IncrementalAgg.update(s, tmp,
            li.filter(col("l_orderkey") % 3 === i), Seq("l_returnflag"), "l_quantity")
        }
        IncrementalAgg.withAvg(IncrementalAgg.readStore(s, tmp))
          .select(
            col("l_returnflag"), col("n"),
            round(col("sum"), 2).as("sum"),
            round(col("min"), 2).as("min"),
            round(col("max"), 2).as("max"),
            round(col("avg"), 4).as("avg"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(l_quantity) AS n,
             |  ROUND(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum,
             |  ROUND(CAST(min(l_quantity) AS DOUBLE), 2) AS min,
             |  ROUND(CAST(max(l_quantity) AS DOUBLE), 2) AS max,
             |  ROUND(CAST(sum(l_quantity) AS DOUBLE)/count(l_quantity), 4) AS avg
             |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // Row-level COPY-ON-WRITE DELETE on a commit-log store: load customer
    // (v1), delete every %10 key (v2 — rewrites ONLY files holding
    // matches, retires them by exact path in one manifest), read the tip.
    // DeleteSpec pins the file-grain pruning (untouched files survive by
    // name) and NULL-predicate semantics; this row gates the end result.
    GraftQuery(
      "q_delete_rows",
      (s, d) => {
        val tmp = graft.GraftQuery.tempDir("graft_delq") + "/t"
        val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
        graft.operators.Merge.into(s, tmp, cust, Seq("c_custkey"))
        graft.operators.Delete.where(s, tmp, col("c_custkey") % 10 === 0)
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT (c_custkey % 10 = 0) ORDER BY c_custkey""".stripMargin)),

    // CHANGE DATA FEED over a commit-log store: v1 full load, v2 merge
    // (UPPER the %7 names, insert 50 new keys), v3 row-level delete of
    // the %10 keys. The feed diffs ONLY each commit's added/removed
    // files; carried-over rows cancel, so the oracle can state the exact
    // insert/update/delete sets per version.
    GraftQuery(
      "q_change_feed",
      (s, d) => {
        val tmp = graft.GraftQuery.tempDir("graft_cfq") + "/t"
        val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
        graft.operators.Merge.into(s, tmp, cust, Seq("c_custkey"))
        val upd = cust.filter(col("c_custkey") % 7 === 0)
          .withColumn("c_name", upper(col("c_name")))
          .unionByName(cust.filter(col("c_custkey") < 50).select(
            (col("c_custkey") + 1000000).as("c_custkey"),
            concat(lit("NEW_"), col("c_custkey").cast("string")).as("c_name")))
        graft.operators.Merge.into(s, tmp, upd, Seq("c_custkey"))
        graft.operators.Delete.where(s, tmp, col("c_custkey") % 10 === 0)
        graft.operators.ChangeFeed.between(
          s, new org.apache.hadoop.fs.Path(tmp), 1L, 3L, Seq("c_custkey"))
          .select(
            col(graft.operators.ChangeFeed.VersionCol).as("version"),
            col("c_custkey"), col("c_name"), col("change_type"))
          .orderBy("version", "c_custkey")
      },
      Some("""SELECT * FROM (
             |  SELECT CAST(2 AS BIGINT) AS version, c_custkey,
             |         UPPER(c_name) AS c_name, 'update' AS change_type
             |  FROM customer WHERE c_custkey % 7 = 0
             |  UNION ALL
             |  SELECT 2, c_custkey + 1000000,
             |         'NEW_' || CAST(c_custkey AS VARCHAR), 'insert'
             |  FROM customer WHERE c_custkey < 50
             |  UNION ALL
             |  SELECT 3, c_custkey,
             |         CASE WHEN c_custkey % 7 = 0 THEN UPPER(c_name) ELSE c_name END,
             |         'delete'
             |  FROM customer WHERE c_custkey % 10 = 0
             |  UNION ALL
             |  SELECT 3, c_custkey + 1000000,
             |         'NEW_' || CAST(c_custkey AS VARCHAR), 'delete'
             |  FROM customer WHERE c_custkey < 50 AND c_custkey % 10 = 0
             |) t ORDER BY version, c_custkey""".stripMargin)),

    // TIME TRAVEL on a commit-log store: merge v1 (full load), merge v2
    // (lowercase the %10 keys), then read BOTH versions from the same
    // store — the pinned-version read returns the v1 state bit for bit
    // even though v2 logically replaced its files (deletion defers to
    // vacuum; LogStoreSpec pins the mid-rewrite reader isolation this
    // query surfaces as an API). The oracle states both states
    // relationally.
    GraftQuery(
      "q_time_travel",
      (s, d) => {
        val tmp = graft.GraftQuery.tempDir("graft_ttq") + "/t"
        val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
        graft.operators.Merge.into(s, tmp, cust, Seq("c_custkey"))
        val updates = cust.filter(col("c_custkey") % 10 === 0)
          .withColumn("c_name", lower(col("c_name")))
        graft.operators.Merge.into(s, tmp, updates, Seq("c_custkey"))
        val store = new org.apache.hadoop.fs.Path(tmp)
        val v1 = graft.operators.CommitLog.read(s, store, Some(1L)).get
          .select(lit(1L).as("version"), col("c_custkey"), col("c_name"))
        val tip = graft.operators.CommitLog.read(s, store).get
          .select(lit(2L).as("version"), col("c_custkey"), col("c_name"))
        v1.unionByName(tip).orderBy("version", "c_custkey")
      },
      Some("""SELECT CAST(1 AS BIGINT) AS version, c_custkey, c_name FROM customer
             |UNION ALL
             |SELECT CAST(2 AS BIGINT) AS version, c_custkey,
             |  CASE WHEN c_custkey % 10 = 0 THEN LOWER(c_name) ELSE c_name END AS c_name
             |FROM customer
             |ORDER BY version, c_custkey""".stripMargin)),

    // OPTIMIZE ZORDER end to end: load customer into a log store, rewrite
    // it z-ordered on (c_custkey, c_nationkey), then answer a key-range
    // query THROUGH the manifest-stats pruned read (Optimize.readRange
    // opens only files whose recorded min/max overlap the range — the
    // row-level filter still applies on top, file grain being coarser).
    // The oracle is the plain range query; OptimizeSpec measures the
    // prune ratio itself.
    GraftQuery(
      "q_optimize",
      (s, d) => {
        val tmp = graft.GraftQuery.tempDir("graft_optq") + "/t"
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"), col("c_name"))
        graft.operators.Merge.into(s, tmp, cust, Seq("c_custkey"))
        graft.operators.Optimize.zorder(
          s, tmp, Seq("c_custkey", "c_nationkey"), numFiles = 8)
        graft.operators.Optimize.readRange(
          s, new org.apache.hadoop.fs.Path(tmp), 100L, 400L)
          .get
          .filter(col("c_custkey").between(100, 400))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_nationkey, c_name FROM customer
             |WHERE c_custkey BETWEEN 100 AND 400
             |ORDER BY c_custkey""".stripMargin)),

    // Incremental materialized JOIN view (IncrementalJoin): orders ⋈
    // customer maintained across three refreshes — build with half of
    // each side, append the other halves with a refresh between, so
    // every delta term (ΔL⋈R, L_old⋈ΔR, and the ΔL⋈ΔR inside the
    // first) really executes — then aggregate the final view. The
    // oracle is the PLAIN one-shot join of the full tables: the
    // driver-gated proof that delta maintenance ≡ full recompute,
    // mirroring q_bm25_log's append-≡-rebuild contract.
    GraftQuery(
      "q_incr_join",
      (s, d) => {
        val base = graft.GraftQuery.tempDir("graft_ijq")
        val (left, right, view) = (base + "/L", base + "/R", base + "/V")
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val c = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))
        graft.operators.IncrementalJoin.appendTable(s, left,
          o.filter(col("o_orderkey") % 2 === 0))
        graft.operators.IncrementalJoin.appendTable(s, right,
          c.filter(col("c_custkey") % 2 === 0))
        graft.operators.IncrementalJoin.refresh(s, left, right, view,
          "o_custkey", "c_custkey")
        graft.operators.IncrementalJoin.appendTable(s, left,
          o.filter(col("o_orderkey") % 2 === 1))
        graft.operators.IncrementalJoin.refresh(s, left, right, view,
          "o_custkey", "c_custkey")
        graft.operators.IncrementalJoin.appendTable(s, right,
          c.filter(col("c_custkey") % 2 === 1))
        graft.operators.IncrementalJoin.refresh(s, left, right, view,
          "o_custkey", "c_custkey")
        graft.operators.IncrementalJoin.readView(s, view).get
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("rev"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n,
             |       ROUND(SUM(o_totalprice), 2) AS rev
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),

    // TTL/retention expiry (Delete.expire): build a log store of events,
    // z-order it on the time column (time-clustered files), then expire
    // everything before 2024-01-10 — the per-file footer classification
    // drops fully-expired files with ZERO data reads and rewrites only
    // the straddling boundary file. The oracle states the retention
    // contract directly (rows at/after the cutoff, in full); DeleteSpec
    // separately proves the file-level mechanics (drops without rewrite,
    // live files surviving by name, one commit).
    GraftQuery(
      "q_ttl_expire",
      (s, d) => {
        val tmp = graft.GraftQuery.tempDir("graft_ttlq") + "/t"
        val ev = Tables.events(s, d).select(
          col("event_id"),
          expr("timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)")
            .as("us"),
          col("event_type"))
        graft.operators.Merge.into(s, tmp, ev, Seq("event_id"))
        graft.operators.Optimize.zorder(s, tmp, Seq("us"), numFiles = 8)
        graft.operators.Delete
          .expire(s, tmp, "us", cutoff = 1704844800000000L) // 2024-01-10 UTC
          .orderBy("event_id")
      },
      Some("""SELECT event_id, epoch_us(ts) AS us, event_type
             |FROM events WHERE epoch_us(ts) >= 1704844800000000
             |ORDER BY event_id""".stripMargin)),

    // Per-file bloom index (BloomIndex.build/lookup): point lookups on a
    // column the store's layout does NOT sort by — manifest min/max
    // stats prune nothing there, a per-file bloom sidecar prunes to the
    // files that might hold the key. The lookup equals the plain filter
    // UNCONDITIONALLY (false positives only add scanned files; files
    // newer than the sidecar are always scanned), which is exactly what
    // the oracle states; BloomIndexSpec separately measures the prune
    // and the stale-sidecar conservatism.
    GraftQuery(
      "q_bloom_lookup",
      (s, d) => {
        val tmp = graft.GraftQuery.tempDir("graft_bfq") + "/t"
        val ords = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        graft.operators.Merge.into(s, tmp, ords, Seq("o_orderkey"))
        graft.operators.BloomIndex.build(s, tmp, "o_custkey",
          expectedItemsPerFile = 100000L, numBits = 800000L)
        graft.operators.BloomIndex
          .lookup(s, tmp, "o_custkey", Seq(37L, 73L, 111L))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_custkey IN (37, 73, 111)
             |ORDER BY o_orderkey""".stripMargin)),

    // CDC apply_changes (Cdc.applyChanges): a messy change feed —
    // out-of-order updates (a seq-1 'SHOULD_LOSE' under every seq-2
    // winner), interleaved deletes that outrank updates on the same key
    // (keys divisible by 70 carry BOTH and must die), and fresh inserts —
    // resolved per key by highest sequence, then applied as ONE merge +
    // ONE set-based delete. The oracle states the replicated end state
    // directly; CdcSpec pins the resolution semantics, idempotent
    // replay, and the loud tie refusal.
    GraftQuery(
      "q_apply_changes",
      (s, d) => {
        val tmp = graft.GraftQuery.tempDir("graft_cdcq") + "/t"
        val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
        graft.operators.Merge.into(s, tmp, cust, Seq("c_custkey"))
        val feed = cust.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), upper(col("c_name")).as("c_name"),
            lit(2L).as("seq"), lit("U").as("op"))
          .unionByName(cust.filter(col("c_custkey") % 7 === 0)
            .select(col("c_custkey"), lit("SHOULD_LOSE").as("c_name"),
              lit(1L).as("seq"), lit("U").as("op")))
          .unionByName(cust.filter(col("c_custkey") % 10 === 0)
            .select(col("c_custkey"), lit("tombstone").as("c_name"),
              lit(3L).as("seq"), lit("D").as("op")))
          .unionByName(cust.filter(col("c_custkey") < 50)
            .select((col("c_custkey") + 1000000L).as("c_custkey"),
              concat(lit("NEW_"), col("c_custkey").cast("string")).as("c_name"),
              lit(1L).as("seq"), lit("I").as("op")))
        graft.operators.Cdc
          .applyChanges(s, tmp, feed, Seq("c_custkey"), "seq", "op")
          .orderBy("c_custkey")
      },
      Some("""SELECT * FROM (
             |  SELECT c_custkey,
             |         CASE WHEN c_custkey % 7 = 0 THEN UPPER(c_name)
             |              ELSE c_name END AS c_name
             |  FROM customer WHERE c_custkey % 10 <> 0
             |  UNION ALL
             |  SELECT c_custkey + 1000000, 'NEW_' || CAST(c_custkey AS VARCHAR)
             |  FROM customer WHERE c_custkey < 50
             |) ORDER BY c_custkey""".stripMargin)),

    // Write-audit-publish (Wap.appendAudited): three staged appends —
    // evens (audit passes, publishes), the SAME evens again (whole-table
    // uniqueness audit refuses; store bit-identical), then odds
    // (publishes). The final table must therefore be exactly the
    // original documents — the refused duplicate batch left no trace —
    // which is what the oracle states. WapSpec pins the report contents
    // and the staged-vs-table audit scopes.
    GraftQuery(
      "q_wap_publish",
      (s, d) => {
        import graft.operators.Expectations._
        val tmp = graft.GraftQuery.tempDir("graft_wapq") + "/t"
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        val checks = Seq(Unique("doc_id"), Complete("lang", 1.0))
        val r1 = graft.operators.Wap.appendAudited(
          s, tmp, docs.filter(col("doc_id") % 2 === 0), checks)
        val r2 = graft.operators.Wap.appendAudited(
          s, tmp, docs.filter(col("doc_id") % 2 === 0), checks)
        val r3 = graft.operators.Wap.appendAudited(
          s, tmp, docs.filter(col("doc_id") % 2 === 1), checks)
        require(r1.published && !r2.published && r3.published,
          s"WAP gate sequence broken: ${(r1.published, r2.published, r3.published)}")
        graft.operators.CommitLog
          .read(s, new org.apache.hadoop.fs.Path(tmp)).get
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents
             |ORDER BY doc_id""".stripMargin)),

    // Zero-copy shallow clone (CommitLog.shallowClone): clone the
    // customer store O(metadata) — no data copied — then UPDATE and
    // DELETE on the CLONE only. The returned clone table must match the
    // mutation SQL while the source stays bit-identical (asserted
    // in-query: a divergence that leaked into the source would abort
    // before the oracle ever compared). CloneSpec pins the file-level
    // mechanics (zero copied files, COW divergence, vacuum safety).
    GraftQuery(
      "q_clone_diverge",
      (s, d) => {
        val base = graft.GraftQuery.tempDir("graft_clq")
        val src = base + "/src"
        val dst = base + "/clone"
        val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
        graft.operators.Merge.into(s, src, cust, Seq("c_custkey"))
        graft.operators.CommitLog.shallowClone(s,
          new org.apache.hadoop.fs.Path(src),
          new org.apache.hadoop.fs.Path(dst))
        graft.operators.Merge.into(s, dst,
          cust.filter(col("c_custkey") % 5 === 0)
            .withColumn("c_name", upper(col("c_name"))),
          Seq("c_custkey"))
        graft.operators.Delete.where(s, dst, col("c_custkey") % 9 === 0)
        val srcNow = graft.operators.CommitLog
          .read(s, new org.apache.hadoop.fs.Path(src)).get
        require(srcNow.count() == cust.count() &&
          srcNow.filter(col("c_name") =!= upper(col("c_name")) ||
            col("c_custkey") % 5 =!= 0).count() > 0,
          "clone writes leaked into the source store")
        graft.operators.CommitLog
          .read(s, new org.apache.hadoop.fs.Path(dst)).get
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey,
             |       CASE WHEN c_custkey % 5 = 0 THEN UPPER(c_name)
             |            ELSE c_name END AS c_name
             |FROM customer WHERE c_custkey % 9 <> 0
             |ORDER BY c_custkey""".stripMargin)),

    // RESTORE (CommitLog.restore): a bad deploy — mutate then delete —
    // rolled back O(metadata) as a FORWARD commit. The tip must equal
    // the pristine v1 table (the oracle), the rollback leaves all
    // intermediate versions auditable (asserted in-query via a pinned
    // read of the broken v2), and no data file is read or copied.
    GraftQuery(
      "q_restore",
      (s, d) => {
        val tmp = graft.GraftQuery.tempDir("graft_rstq") + "/t"
        val p = new org.apache.hadoop.fs.Path(tmp)
        val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
        graft.operators.Merge.into(s, tmp, cust, Seq("c_custkey"))
        graft.operators.Merge.into(s, tmp,
          cust.filter(col("c_custkey") % 3 === 0)
            .withColumn("c_name", lit("BROKEN")), Seq("c_custkey"))
        graft.operators.Delete.where(s, tmp, col("c_custkey") % 4 === 0)
        graft.operators.CommitLog.restore(s, p, 1L)
        require(graft.operators.CommitLog.read(s, p, Some(2L)).get
          .filter(col("c_name") === "BROKEN").count() > 0,
          "the rolled-back history must stay auditable")
        graft.operators.CommitLog.read(s, p).get.orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |ORDER BY c_custkey""".stripMargin)))
}
