package graft.queries

import graft.GraftQuery
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Third-wave operators: correlated lateral joins (LATERAL subquery +
  * LATERAL VIEW explode), MapType construction/access/lambdas, and the
  * store-level MERGE. All oracle-checked.
  */
object LateralMapQueries {

  val all: Seq[GraftQuery] = Seq(

    // Correlated LATERAL subquery: a per-order aggregate over lineitem,
    // planned by Catalyst's decorrelation into a join + aggregate (no
    // per-row re-execution). DuckDB runs the same shape natively.
    GraftQuery(
      "q_lateral",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("graft_orders_lat")
        Tables.lineitem(s, d).createOrReplaceTempView("graft_li_lat")
        s.sql("""SELECT o.o_orderkey, t.n_items, t.max_qty
                |FROM graft_orders_lat o,
                |LATERAL (SELECT COUNT(*) AS n_items,
                |                ROUND(MAX(l_quantity), 2) AS max_qty
                |         FROM graft_li_lat WHERE l_orderkey = o.o_orderkey) t
                |ORDER BY o.o_orderkey""".stripMargin)
      },
      Some("""SELECT o.o_orderkey, t.n_items, t.max_qty
             |FROM orders o,
             |LATERAL (SELECT COUNT(*) AS n_items,
             |                ROUND(MAX(l_quantity), 2) AS max_qty
             |         FROM lineitem WHERE l_orderkey = o.o_orderkey) t
             |ORDER BY o.o_orderkey""".stripMargin)),

    // LATERAL VIEW explode with a filter correlating the exploded value
    // with outer columns (explode tokens, keep per-row context) — the
    // corpus-pipeline shape. Oracle: lateral UNNEST.
    GraftQuery(
      "q_lateral_explode",
      (s, d) => {
        Tables.part(s, d).createOrReplaceTempView("graft_part_lat")
        s.sql("""SELECT p_partkey, tok
                |FROM graft_part_lat
                |LATERAL VIEW explode(split(p_name, ' ')) x AS tok
                |WHERE length(tok) >= 6 AND tok <> lower(p_brand)
                |ORDER BY p_partkey, tok""".stripMargin)
      },
      Some("""SELECT p_partkey, tok
             |FROM part, UNNEST(string_split(p_name, ' ')) AS t(tok)
             |WHERE length(tok) >= 6 AND tok <> lower(p_brand)
             |ORDER BY p_partkey, tok""".stripMargin)),

    // MapType end-to-end: build a linenumber→quantity map per order
    // (map_from_entries over a sorted entry list), then read it back via
    // element_at / map_keys / map_values + a lambda fold. The oracle
    // verifies every derived value through plain SQL aggregation.
    GraftQuery(
      "q_map_funcs",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_orderkey") <= 200)
          // the fixture repeats l_linenumber within an order — map keys
          // must be unique, so aggregate per line first
          .groupBy("l_orderkey", "l_linenumber")
          .agg(round(sum("l_quantity"), 2).as("qty"))
          .groupBy("l_orderkey")
          .agg(map_from_entries(array_sort(
            collect_list(struct(col("l_linenumber"), col("qty"))))).as("m"))
          .select(
            col("l_orderkey"),
            size(col("m")).as("n"),
            element_at(col("m"), 1).as("qty1"),
            array_join(transform(map_keys(col("m")), _.cast("string")), ",").as("keys"),
            round(aggregate(map_values(col("m")), lit(0.0), (a, v) => a + v), 2)
              .as("total_qty"))
          .orderBy("l_orderkey"),
      Some("""WITH per_line AS (
             |  SELECT l_orderkey, l_linenumber, ROUND(SUM(l_quantity), 2) AS qty
             |  FROM lineitem WHERE l_orderkey <= 200 GROUP BY 1, 2)
             |SELECT l_orderkey,
             |  CAST(COUNT(*) AS INTEGER) AS n,
             |  MAX(CASE WHEN l_linenumber = 1 THEN qty END) AS qty1,
             |  string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS keys,
             |  ROUND(SUM(qty), 2) AS total_qty
             |FROM per_line GROUP BY 1 ORDER BY l_orderkey""".stripMargin)),

    // JSON → MapType → map lambda (map_filter). The fixture's props is a
    // one-key object, so the filtered size is 0/1 — verified exactly.
    GraftQuery(
      "q_map_json",
      (s, d) => {
        val pm = from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.IntegerType))
        Tables.events(s, d)
          .select(
            col("event_id"),
            element_at(pm, "k").as("k"),
            size(map_filter(pm, (_, v) => v > 50)).as("n_big"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
             |  CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
             |       THEN 1 ELSE 0 END AS n_big
             |FROM events ORDER BY event_id""".stripMargin)),

    // Store-level MERGE (delta-style upsert): updates replace matched
    // rows, inserts append, untouched rows survive. The query runs a real
    // parquet-store merge into a throwaway dir and returns the store
    // contents; the oracle states the expected post-merge table directly.
    // The store is COMMIT-LOG backed (CommitLog.scala): the first call
    // creates log version v1, the merge publishes v2 via the optimistic
    // CAS protocol — so the gated row exercises the transaction-log read
    // AND write paths.
    GraftQuery(
      "q_merge",
      (s, d) => {
        val tmp = graft.GraftQuery.tempDir("graft_merge") + "/t"
        val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
        graft.operators.Merge.into(s, tmp, cust, Seq("c_custkey"))
        val updates = cust.filter(col("c_custkey") <= 100)
          .withColumn("c_name", upper(col("c_name")))
        val inserts = cust.filter(col("c_custkey") <= 100)
          .select(
            (col("c_custkey") + 1000000).as("c_custkey"),
            concat(lit("NEW_"), col("c_custkey").cast("string")).as("c_name"))
        graft.operators.Merge.into(s, tmp, updates.unionByName(inserts), Seq("c_custkey"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey,
             |  CASE WHEN c_custkey <= 100 THEN UPPER(c_name) ELSE c_name END AS c_name
             |FROM customer
             |UNION ALL
             |SELECT c_custkey + 1000000 AS c_custkey,
             |       'NEW_' || CAST(c_custkey AS VARCHAR) AS c_name
             |FROM customer WHERE c_custkey <= 100
             |ORDER BY c_custkey""".stripMargin)),
  )
}
