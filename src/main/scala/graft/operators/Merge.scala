package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Delta-style MERGE into a parquet store — the store-level form of the
  * A18 dimension-maintenance contract (DimUpsert covers the lookup+mint
  * side; this covers `MERGE INTO target USING source`): source rows whose
  * key matches an existing target row REPLACE it (whole-row update),
  * unmatched source rows are INSERTED, untouched target rows are kept.
  *
  * Write protocol: the merged result is written to a staging directory
  * next to the target, then published by one [[CommitLog]] manifest —
  * readers never observe a half-written store, and a crash mid-merge
  * leaves the previous version intact.
  *
  * Scale notes (100 TB): the only fact-sized operations are one left-anti
  * shuffle join on the key columns and the rewrite itself. MERGE on a
  * parquet store rewrites the whole table by construction; when the store
  * is partitioned, pass `prunePartitions` so only partitions that can
  * contain a source key are rewritten (classic partition-scoped merge) —
  * everything else is untouched at the FS level.
  */
object Merge {

  /** Merge `source` into the parquet store at `targetPath` by `keyCols`.
    *
    * Source must have the target's schema (checked by field name) and at
    * most one row per key (checked — SQL MERGE raises on multiple matches
    * rather than picking one nondeterministically).
    *
    * The store is COMMIT-LOG backed (see [[CommitLog]]): reads pin a
    * snapshot version, writes publish manifests with optimistic
    * concurrency, and partition-scoped merges on DISJOINT partitions may
    * run concurrently with no lock. A fresh path becomes a log store; a
    * store written before the log is adopted first ([[CommitLog.adopt]]).
    *
    * @param prunePartitions partition column to scope the rewrite: only
    *   target partitions the merge can change — those the source writes
    *   into plus, when the partition value is not part of the key, those
    *   holding a matched key whose partition value moved — are read,
    *   merged and committed; others are left untouched on disk. The
    *   column must be one the store was `partitionBy`'d on; NULL partition
    *   values are rejected in this mode.
    * @param evolveSchema when true, the source may carry NEW columns:
    *   they are appended to the store's schema and existing rows read
    *   back NULL for them (parquet's schema-merge semantics). Columns may
    *   only be added, never dropped — source must still contain every
    *   target column.
    * @return the merged frame (read back from the committed snapshot).
    */
  def into(
      spark: SparkSession,
      targetPath: String,
      source: DataFrame,
      keyCols: Seq[String],
      prunePartitions: Option[String] = None,
      evolveSchema: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "MERGE needs at least one key column")

    val target = new org.apache.hadoop.fs.Path(targetPath)
    val fs = Swap.fsOf(spark, target)
    CommitLog.adopt(spark, target)

    // OCC anchor: the snapshot version this merge's computation reads;
    // commitStaged checks every later commit for partition overlap
    val readVersion = CommitLog.currentVersion(fs, target)
    val snapshot = CommitLog.snapshotFiles(fs, target, readVersion)
    val staging = Swap.Suffix.staging(target, Swap.newTag())

    if (snapshot.isEmpty) {
      // nothing to match: MERGE degenerates to insert-all. Lay out by the
      // prune column from the FIRST write: a mixed flat+partitioned store
      // reads ambiguously (root files have the column as data, partition
      // dirs as a path), so the layout is fixed at creation and
      // partition-scoped merges find real dirs
      val w = source.write
      prunePartitions.fold(w)(w.partitionBy(_)).parquet(staging.toString)
      CommitLog.commitStaged(spark, target, staging, readVersion,
        Nil, wholeStore = true, schema = Some(source.schema))
      return CommitLog.read(spark, target).get
    }

    // With schema evolution the store may hold files of BOTH schemas
    // (partition-scoped merges rewrite only touched partitions), so the
    // read must union footers rather than sample one — otherwise the
    // evolved columns silently vanish depending on which file Spark picks
    // for inference. mergeSchema costs one footer read per file; only
    // paid when evolution is on. The read pins the OCC base version — the
    // plan scans exactly the snapshot the conflict check covers, even if
    // the tip moves mid-merge.
    val current = CommitLog.read(spark, target, Some(readVersion), evolveSchema).get
    if (evolveSchema) {
      val missing = current.columns.toSet -- source.columns.toSet
      require(missing.isEmpty,
        s"schema evolution adds columns, never drops: source lacks ${missing.mkString(",")}")
    } else {
      require(current.columns.sorted.sameElements(source.columns.sorted),
        s"source schema ${source.columns.sorted.mkString(",")} != target " +
          s"schema ${current.columns.sorted.mkString(",")}")
    }

    // SQL MERGE semantics: a key matched by >1 source row is an error, not
    // a nondeterministic pick. One aggregate over the (small) source side.
    require(source.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("graft_n")).filter(col("graft_n") > 1).isEmpty,
      s"source has multiple rows for the same key ${keyCols.mkString(",")}")

    def mergedFrom(base: DataFrame): DataFrame =
      base.join(source.select(keyCols.map(col): _*), keyCols, "left_anti")
        .unionByName(source, allowMissingColumns = evolveSchema)

    // A store created WITHOUT a prune column holds root-level files
    // (pcol is a data column, not a path) — a partition-scoped rewrite
    // cannot retire rows from those, and a mixed flat+partitioned layout
    // is ambiguous to read. Convert with ONE whole-store partitioned
    // rewrite; subsequent merges prune normally.
    val storeIsFlat = snapshot.exists(!_.contains('/'))

    prunePartitions match {
      case Some(pcol) if storeIsFlat =>
        val merged = mergedFrom(current)
        merged.write.partitionBy(pcol).parquet(staging.toString)
        CommitLog.commitStaged(spark, target, staging, readVersion,
          Nil, wholeStore = true, schema = Some(merged.schema))
      case Some(pcol) =>
        // Partition-scoped merge: rewrite only partitions the merge can
        // change. Those are (a) partitions the source writes into, and —
        // unless the partition value is functionally determined by the key
        // (pcol ∈ keyCols) — (b) partitions currently holding a MATCHED
        // key whose partition value changed in the source: the old row
        // must be removed from its old partition or the key ends up
        // duplicated across partitions. (b) costs one column-pruned scan
        // of the target's (key, pcol) columns behind a semi join on the
        // (unique) source keys; values collected driver-side are
        // partition keys (few), never data rows.
        val sourceParts = source.select(pcol).distinct()
        val touchedDf =
          if (keyCols.contains(pcol)) sourceParts
          else sourceParts.union(
            current.join(source.select(keyCols.map(col): _*), keyCols, "left_semi")
              .select(pcol)).distinct()
        val touched = touchedDf.collect().map(_.get(0))
        // NULL partition values can't be addressed by isin() filters or a
        // hive-style partition path — reject them rather than miscompute.
        require(!touched.contains(null),
          s"partition-scoped merge does not support NULL values in $pcol")
        val scoped = current.filter(col(pcol).isin(touched: _*))
        // On-disk dirs of the touched partitions, from the planner's pruned
        // listing of `scoped` (no job): exactly the files the rewrite scans,
        // zero-row ones included, in the writer's own path encoding (never
        // a value's toString). No touched partition plans no scan: no dirs.
        val oldDirs = scoped.queryExecution.sparkPlan.collect {
          case scan: FileSourceScanExec => scan.selectedPartitions.filePartitionIterator.toSeq
        }.flatten.flatMap(_.files).flatMap { f =>
          var p = f.getPath.getParent
          while (p != null && !p.getName.startsWith(pcol + "=")) p = p.getParent
          Option(p)
        }.distinct
        // Stage the merged output FULLY, then publish one manifest that
        // retires every file of the touched partition dirs. A touched
        // partition with no output rows simply has no staged dir: its
        // old files are retired and never replaced. Every staged dir is
        // retired too: a file the row scan cannot see (zero rows) in a
        // partition the output rewrites must not survive beside it.
        val merged = mergedFrom(scoped)
        merged.write.partitionBy(pcol).parquet(staging.toString)
        val stagedDirs = fs.listStatus(staging).filter(_.isDirectory)
          .map(_.getPath.getName)
        CommitLog.commitStaged(spark, target, staging, readVersion,
          (oldDirs.map(_.getName) ++ stagedDirs).distinct.toSeq, wholeStore = false,
          schema = Some(merged.schema))
      case None =>
        val merged = mergedFrom(current)
        merged.write.parquet(staging.toString)
        CommitLog.commitStaged(spark, target, staging, readVersion,
          Nil, wholeStore = true, schema = Some(merged.schema))
    }
    CommitLog.read(spark, target, mergeSchema = evolveSchema).get
  }
}
