package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental materialized JOIN-view maintenance over commit-log
  * tables — the join sibling of IncrementalAgg's fold: keep
  * `view = left ⋈ right` (inner equi-join) up to date as both sources
  * take appends, paying per refresh only the DELTA join work
  *
  *   ΔJ = ΔL ⋈ R_new  ∪  L_old ⋈ ΔR
  *
  * (ΔL ⋈ ΔR is inside the first term because R_new ⊇ ΔR), never a full
  * recompute. At 100 TB this is the difference between "the enriched
  * table is always a full shuffle behind" and "a refresh costs the
  * day's increment times the dimension" — the standard delta-join rule
  * of incremental view maintenance (Blakeley et al., SIGMOD 1986),
  * expressed over log snapshots instead of differential dataflow.
  *
  * What makes it exact here: sources must be APPEND-ONLY between the
  * versions a refresh spans. Deltas are computed as manifest file-set
  * differences — the old snapshot's files must all survive into the
  * new one, otherwise rows were removed/rewritten and the delta rule
  * is wrong; the refresh then refuses loudly ("rebuild") instead of
  * silently double-counting a compaction. The view store records the
  * exact (leftVersion, rightVersion) pair each refresh reflects in its
  * manifest meta, so refreshes compose across processes and restarts,
  * and concurrent refreshes serialize under OCC (SerialToken — the
  * loser's delta was computed against a stale view tip and must
  * re-run; both publishing would append the same delta twice).
  *
  * Left/right non-key column names must be disjoint (the view is their
  * concatenation); the join itself is the planner's choice — a small
  * delta side against a big snapshot is exactly the shape AQE turns
  * into a broadcast join on its own.
  */
object IncrementalJoin {

  /** Manifest meta key on the VIEW store: "leftVersion:rightVersion". */
  val SourcesMetaKey = "incrJoinSources"

  /** Append `df` to a commit-log table at `store` (creating it on first
    * use) — the generic log-backed table writer the view's SOURCES use.
    * Blind append: concurrent appends never conflict. Returns the
    * committed version. */
  def appendTable(
      spark: SparkSession,
      store: String,
      df: DataFrame,
      meta: Map[String, String] = Map.empty): Long = {
    val storeP = new Path(store)
    val fs = storeP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitLog.adopt(spark, storeP)
    val staging = Swap.Suffix.staging(storeP, Swap.newTag())
    df.write.mode("overwrite").parquet(staging.toString)
    CommitLog.commitStaged(spark, storeP, staging,
      CommitLog.currentVersion(fs, storeP), Nil, wholeStore = false,
      meta = meta + ("operation" -> "append"), blindAppend = true)
  }

  /** Bring the view at `view` up to the current tips of `left` and
    * `right` (inner join on leftKey == rightKey). Returns the view
    * version reflecting the refresh (unchanged when both sources are
    * already reflected — a no-op publishes nothing). */
  def refresh(
      spark: SparkSession,
      left: String,
      right: String,
      view: String,
      leftKey: String,
      rightKey: String): Long = {
    val (leftP, rightP, viewP) = (new Path(left), new Path(right), new Path(view))
    val fs = viewP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lTip = CommitLog.currentVersion(fs, leftP)
    val rTip = CommitLog.currentVersion(fs, rightP)
    val base = CommitLog.currentVersion(fs, viewP)
    val (lv, rv) = CommitLog.lastMeta(fs, viewP, SourcesMetaKey) match {
      case Some(s) =>
        val parts = s.split(':'); (parts(0).toLong, parts(1).toLong)
      case None => (0L, 0L)
    }
    if (lv == lTip && rv == rTip) return base

    def filesAt(store: Path, v: Long): Set[String] =
      if (v == 0) Set.empty else CommitLog.snapshotFiles(fs, store, v).toSet
    val (lOldF, lNewF) = (filesAt(leftP, lv), filesAt(leftP, lTip))
    val (rOldF, rNewF) = (filesAt(rightP, rv), filesAt(rightP, rTip))
    require(lOldF.subsetOf(lNewF) && rOldF.subsetOf(rNewF),
      s"incremental join requires APPEND-ONLY sources between refreshes — " +
        s"files were removed/rewritten (compaction? delete?) under " +
        s"${if (!lOldF.subsetOf(lNewF)) left else right}; rebuild the view " +
        "from scratch instead of silently double-counting")

    def readSet(store: Path, v: Long, files: Set[String]): Option[DataFrame] =
      CommitLog.readFilesAt(spark, store, v, files.toSeq.sorted)
    val dL = readSet(leftP, lTip, lNewF -- lOldF)
    val dR = readSet(rightP, rTip, rNewF -- rOldF)
    val rNew = readSet(rightP, rTip, rNewF)
    val lOld = readSet(leftP, lTip, lOldF)

    val parts = Seq(
      for (a <- dL; b <- rNew) yield a.join(b, a(leftKey) === b(rightKey)),
      for (a <- lOld; b <- dR) yield a.join(b, a(leftKey) === b(rightKey)))
      .flatten
    val staging = Swap.Suffix.staging(viewP, Swap.newTag())
    parts.reduceOption(_ unionByName _).foreach { delta =>
      delta.write.mode("overwrite").parquet(staging.toString)
    }
    CommitLog.commitStaged(spark, viewP, staging, base, Nil,
      wholeStore = false,
      meta = Map(SourcesMetaKey -> s"$lTip:$rTip", "operation" -> "refresh"),
      extraTouched = Seq(CommitLog.SerialToken))
  }

  /** The materialized view as a DataFrame (None before the first
    * non-empty refresh). Version-pinnable like any log read. */
  def readView(
      spark: SparkSession,
      view: String,
      version: Option[Long] = None): Option[DataFrame] =
    CommitLog.read(spark, new Path(view), version)
}
