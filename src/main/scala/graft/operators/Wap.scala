package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** WRITE–AUDIT–PUBLISH: stage a batch invisibly next to the store, audit
  * it with the declarative expectations suite, and publish the manifest
  * ONLY if every check passes — the Iceberg-WAP admission workflow, with
  * [[Expectations]] as the audit engine.
  *
  * This is the aggregate-level complement to the store's row-level CHECK
  * constraints: a CHECK can refuse `n_chars < 0` per row, but "doc ids
  * stay unique across the WHOLE table after this append" or "the batch's
  * mean length is sane" are properties of a dataset, not a row. The
  * audit runs on the staged FILES (exactly the bytes that would
  * publish — not a recomputation of the input frame that could diverge
  * from what was written), unioned with the current snapshot when the
  * scope is the whole table.
  *
  * Failure semantics: the staged files are deleted, the store is
  * bit-identical to before (the stage was never reachable by any
  * reader), and the caller gets the per-check report to route to a
  * quarantine or an alert. Success publishes one atomic manifest: a
  * blind append for batch-local audits (disjoint feeds race without
  * conflict), a whole-store-read commit for whole-table audits (any
  * intervening commit invalidates the audit, so OCC aborts and the
  * caller re-audits — the only way "unique across the whole table"
  * can hold at the tip under concurrency).
  */
object Wap {

  /** `published` tells whether the manifest landed; `version` is the
    * store tip afterwards (unchanged on refusal); `report` is the
    * per-check audit table (check_name, column_name, metric, passed),
    * detached from the staged files so it survives their deletion. */
  final case class WapResult(published: Boolean, version: Long, report: Seq[Row])

  /** Append `batch` iff `checks` pass. `auditWholeTable = true` (default)
    * audits current ∪ staged — the only scope where cross-batch
    * uniqueness means anything; `false` audits the staged rows alone
    * (cheaper; right for batch-local checks on an append-only feed).
    * Whole-table mode serializes against concurrent commits: if another
    * writer lands between audit and publish, the stale audit is thrown
    * away and the stage–audit–publish cycle re-runs against the new tip
    * (up to `maxAudits` times). */
  def appendAudited(
      spark: SparkSession,
      targetPath: String,
      batch: DataFrame,
      checks: Seq[Expectations.Expectation],
      auditWholeTable: Boolean = true,
      meta: Map[String, String] = Map.empty,
      maxAudits: Int = 5): WapResult = {
    require(checks.nonEmpty, "an unaudited append is just an append — " +
      "give at least one expectation or use the plain writer")
    require(maxAudits > 0, s"maxAudits must be positive, got $maxAudits")
    val store = new Path(targetPath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitLog.adopt(spark, store)

    var lastConflict: CommitLog.ConflictException = null
    var audits = 0
    while (audits < maxAudits) {
      audits += 1
      try return stageAuditPublish(
        spark, store, fs, batch, checks, auditWholeTable, meta)
      catch { case e: CommitLog.ConflictException =>
        // a commit intervened between audit and publish: the audit's
        // pre-image is stale, so re-run the whole cycle at the new tip
        lastConflict = e
      }
    }
    throw new java.io.IOException(
      s"audited append to $store lost the publish race $maxAudits times " +
        s"(last: ${lastConflict.getMessage}); nothing published")
  }

  private def stageAuditPublish(
      spark: SparkSession,
      store: Path,
      fs: org.apache.hadoop.fs.FileSystem,
      batch: DataFrame,
      checks: Seq[Expectations.Expectation],
      auditWholeTable: Boolean,
      meta: Map[String, String]): WapResult = {
    val readVersion = CommitLog.currentVersion(fs, store)
    val staging = Swap.Suffix.staging(store, Swap.newTag())
    batch.write.parquet(staging.toString)
    val staged = spark.read.parquet(staging.toString)

    val audited =
      if (!auditWholeTable) staged
      else CommitLog.read(spark, store, Some(readVersion)) match {
        case Some(cur) => cur.select(staged.columns.map(col): _*)
          .unionByName(staged)
        case None => staged
      }
    val report = Expectations.evaluate(audited, checks).collect().toSeq
    val allPass = report.forall(_.getBoolean(3))

    if (!allPass) {
      fs.delete(staging, true)
      WapResult(published = false, readVersion, report)
    } else {
      // Commit mode follows the audit scope. A whole-table audit READ the
      // entire snapshot at readVersion, so its commit must declare that
      // read (WholeStore in the touched set): two concurrent audited
      // appends would otherwise each validate e.g. Unique(doc_id) against
      // the same pre-image and both publish as blind appends, violating
      // the invariant at the tip with every audit green. With the read
      // declared, OCC aborts the loser (ConflictException), which
      // re-audits against the new tip and retries. Batch-local audits
      // read only the staged rows, so they stay blind appends and
      // disjoint feeds race without conflict.
      val v = CommitLog.commitStaged(spark, store, staging, readVersion,
        retireNames = Nil, wholeStore = false,
        meta = meta ++ Map("operation" -> "wap-append",
          "wapChecks" -> checks.size.toString),
        extraTouched =
          if (auditWholeTable) Seq(CommitLog.WholeStore) else Nil,
        schema = Some(staged.schema),
        blindAppend = !auditWholeTable)
      WapResult(published = true, v, report)
    }
  }
}
