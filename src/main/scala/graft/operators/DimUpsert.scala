package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental dimension upsert — the reference's signature operator
  * (DbDataJoiner + DimTableInserter, SURVEY.md §2.1 A18): enrich a fact
  * stream against a dimension table by natural key; unseen keys are
  * assigned fresh surrogate keys and appended to the dimension store;
  * every fact row comes back carrying its surrogate key.
  *
  * Two store backends: a parquet directory ([[upsert]] — the data-lake
  * form) and a live JDBC table ([[upsertJdbc]] — the reference's literal
  * shape against a SQL database). Batch-incremental semantics either way:
  * each call is one "batch insert + lookup" cycle.
  *
  * Scale notes: the dimension is distinct-key-sized, not fact-sized —
  * the only fact-sized operation is the final broadcast/hash join. New-key
  * detection is a left-anti join against the current dim (dim side
  * broadcast). Surrogate assignment is DISTRIBUTED: a range-partitioned
  * sort of the new keys followed by `zipWithIndex` — every partition
  * numbers its own contiguous key range, so the first bulk load of a
  * 100 TB fact table (potentially 10⁸+ distinct keys in one batch) never
  * funnels through a single task the way a global
  * `Window.orderBy(key)` would.
  */
object DimUpsert {

  /** Deterministic distributed surrogate assignment: global sort by key
    * (range exchange — each partition owns a contiguous key range), then
    * zipWithIndex assigns consecutive indices with one lightweight count
    * job for the per-partition offsets. Same output as a dense_rank over
    * the sorted distinct keys, without collapsing the batch into one
    * partition. */
  private def assignSurrogates(
      spark: SparkSession,
      unseen: DataFrame,
      keyCol: String,
      keyType: org.apache.spark.sql.types.DataType,
      maxSk: Long): DataFrame = {
    val skSchema = new org.apache.spark.sql.types.StructType()
      .add(keyCol, keyType)
      .add("sk", org.apache.spark.sql.types.LongType, nullable = false)
    spark.createDataFrame(
      unseen.orderBy(keyCol).rdd.zipWithIndex().map { case (row, idx) =>
        org.apache.spark.sql.Row(row.get(0), maxSk + 1L + idx)
      },
      skSchema)
  }

  /** @return enriched fact frame: all fact columns + `sk` surrogate key. */
  def upsert(
      spark: SparkSession,
      dimPath: String,
      fact: DataFrame,
      keyCol: String): DataFrame = {

    // The dim is a commit-log store: the read-maxSk → assign → append
    // cycle commits with the SerialToken, so two concurrent upserts that
    // read the same max cannot both mint overlapping surrogate keys — the
    // loser fails with CommitLog.ConflictException and publishes nothing;
    // under dimUpsertStream that fails the trigger, and the restarted
    // query replays the batch against the new dim.
    val store = new org.apache.hadoop.fs.Path(dimPath)
    val fs = Swap.fsOf(spark, store)
    CommitLog.adopt(spark, store)
    val readVersion = CommitLog.currentVersion(fs, store)
    val existing = CommitLog.read(spark, store, Some(readVersion))
    val dim: DataFrame = existing.getOrElse(
      fact.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        new org.apache.spark.sql.types.StructType()
          .add(keyCol, fact.schema(keyCol).dataType)
          .add("sk", org.apache.spark.sql.types.LongType)))

    val maxSk =
      if (existing.isDefined) dim.agg(coalesce(max("sk"), lit(0L))).head().getLong(0) else 0L

    // unseen natural keys → fresh surrogate keys above the current max
    val unseen = fact.select(keyCol).distinct()
      .join(dim.select(keyCol), Seq(keyCol), "left_anti")
    if (!unseen.isEmpty) {
      val staging = Swap.Suffix.staging(store, Swap.newTag())
      assignSurrogates(spark, unseen, keyCol, fact.schema(keyCol).dataType, maxSk)
        .write.parquet(staging.toString)
      CommitLog.commitStaged(spark, store, staging, readVersion, Nil,
        wholeStore = false, meta = Map("operation" -> "dim-upsert"),
        extraTouched = Seq(CommitLog.SerialToken))
    }

    // store may legitimately still not exist (first call with an empty
    // fact batch) — fall back to the in-memory empty dim
    val updated = CommitLog.read(spark, store).getOrElse(dim)
    fact.join(broadcast(updated), Seq(keyCol))
  }

  /** A18 against a LIVE SQL store: the dim table round-trips through
    * JDBC (`(keyCol, sk)` schema), matching the reference's
    * DbDataJoiner + identity-column dim maintenance. Same distributed
    * surrogate assignment as [[upsert]]; inserts are batched appends
    * (Spark's JDBC writer batches `batchsize` rows per executemany).
    *
    * Concurrency contract (same as the parquet form): one writer per dim
    * table at a time — the reference serializes dim inserts through its
    * joiner, and a SQL identity column would otherwise be the arbiter. */
  def upsertJdbc(
      spark: SparkSession,
      url: String,
      table: String,
      fact: DataFrame,
      keyCol: String,
      props: java.util.Properties = new java.util.Properties()): DataFrame = {

    // Probe table existence through JDBC metadata rather than a catch-all
    // around spark.read.jdbc: a transient connection/auth failure must
    // propagate as itself, not be masked as "table missing" and resurface
    // later as a confusing errorifexists write failure.
    val tableExists: Boolean = {
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        val md = conn.getMetaData
        // A schema-qualified name ("dw.dim") never matches the bare
        // TABLE_NAME column — split the qualifier out and pass it as the
        // schemaPattern. For unqualified names, scope the probe to the
        // connection's current schema (where Spark's reader/writer will
        // resolve it) instead of matching a same-named table in an
        // unrelated schema.
        val (schemaPart, namePart) = table.lastIndexOf('.') match {
          case -1 =>
            (try Option(conn.getSchema) catch { case _: Exception => None }, table)
          case i => (Some(table.substring(0, i)), table.substring(i + 1))
        }
        // Unquoted identifiers live in the database's preferred case.
        def storedCase(s: String): String =
          if (md.storesUpperCaseIdentifiers) s.toUpperCase(java.util.Locale.ROOT)
          else if (md.storesLowerCaseIdentifiers) s.toLowerCase(java.util.Locale.ROOT)
          else s
        // getTables args are LIKE patterns: escape _ and % so "dim_a"
        // probes for that table, not any "dimXa". Some drivers support no
        // escape at all (Derby returns "" — and silently treats a
        // backslash-escaped pattern as a non-match): there, pass the
        // over-matching raw pattern and exact-compare the returned names.
        val esc = Option(md.getSearchStringEscape).filter(_.nonEmpty)
        def quoteLike(s: String): String = esc match {
          case Some(e) => s.replace(e, e + e).replace("_", e + "_").replace("%", e + "%")
          case None => s
        }
        val wantSchema = schemaPart.map(storedCase)
        val wantName = storedCase(namePart)
        val rs = md.getTables(
          null, wantSchema.map(quoteLike).orNull, quoteLike(wantName), Array("TABLE"))
        try {
          var found = false
          while (!found && rs.next()) {
            found = rs.getString("TABLE_NAME") == wantName &&
              wantSchema.forall(s => rs.getString("TABLE_SCHEM") == s)
          }
          found
        } finally rs.close()
      } finally conn.close()
    }
    val existing: Option[DataFrame] =
      if (tableExists) Some(spark.read.jdbc(url, table, props)) else None
    val dim = existing.getOrElse(
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        new org.apache.spark.sql.types.StructType()
          .add(keyCol, fact.schema(keyCol).dataType)
          .add("sk", org.apache.spark.sql.types.LongType)))

    val maxSk =
      if (existing.isDefined) dim.agg(coalesce(max("sk"), lit(0L))).head().getLong(0) else 0L

    val unseen = fact.select(keyCol).distinct()
      .join(dim.select(keyCol), Seq(keyCol), "left_anti")
    val wroteNew = !unseen.isEmpty
    if (wroteNew) {
      val writer = assignSurrogates(spark, unseen, keyCol, fact.schema(keyCol).dataType, maxSk)
        .write.mode(if (existing.isDefined) "append" else "errorifexists")
      // string keys as VARCHAR, not the dialect's LOB default — LOB
      // columns can't anchor comparisons/indexes on most databases
      val typed =
        if (existing.isEmpty &&
          fact.schema(keyCol).dataType == org.apache.spark.sql.types.StringType)
          writer.option("createTableColumnTypes", s"$keyCol VARCHAR(255)")
        else writer
      typed.jdbc(url, table, props)
    }

    // After a write the table certainly exists; if there was neither a
    // table nor anything to write, the in-memory empty dim stands in. No
    // catch-all here either — a failing read-back is a real error.
    val updated =
      if (tableExists || wroteNew) spark.read.jdbc(url, table, props) else dim
    fact.join(broadcast(updated), Seq(keyCol))
  }
}
