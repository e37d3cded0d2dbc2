package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level DELETE on a commit-log store — copy-on-write at FILE grain,
  * the GDPR/right-to-be-forgotten primitive (and Delta's default DELETE
  * strategy): rewrite ONLY the files that actually hold matching rows,
  * leave every other file physically untouched, publish one manifest that
  * retires the matched files and adds their filtered replacements.
  *
  * Why file grain and not partition grain: a delete of one user's rows
  * from a store partitioned by date touches a handful of rows in MANY
  * partitions — partition-scoped rewrite would rewrite all of them in
  * full. File-grain COW rewrites only the files whose row groups can
  * contain matches.
  *
  * How matching files are found without reading the table twice over:
  * one column-pruned scan of the pinned snapshot with the predicate
  * PUSHED DOWN (`input_file_name()` of matching rows, distinct) — parquet
  * footer stats skip non-overlapping row groups, so files that cannot
  * match cost a footer read, not a data read. The file list collected to
  * the driver is one string per matching FILE (bounded metadata, never
  * rows). Manifest-level stats pruning composes upstream: a store whose
  * commits declared a stats column has already thinned `snapshotFiles`
  * for range predicates via its readers; the match scan here is the
  * general-predicate path.
  *
  * DELETE semantics are SQL's: rows where the predicate is TRUE go; rows
  * where it is NULL stay (a predicate that cannot decide must not
  * delete).
  *
  * Concurrency: plain OCC. The commit's touched set is exactly the
  * retired files (hierarchical overlap makes a file token conflict with
  * any commit claiming its partition dir) — concurrent writers on other
  * files/partitions proceed; a racing rewrite of the same files loses the
  * CAS loudly and must re-run against the new state.
  */
object Delete {

  /** Delete rows matching `predicate`; returns the resulting table (tip
    * read). No-op (no commit, same version) when nothing matches. */
  def where(spark: SparkSession, targetPath: String, predicate: Column): DataFrame = {
    val store = new Path(targetPath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitLog.adopt(spark, store)
    require(CommitLog.isLog(fs, store), s"DELETE target $targetPath does not exist")

    val readVersion = CommitLog.currentVersion(fs, store)
    val snapshot = CommitLog.read(spark, store, Some(readVersion)).getOrElse {
      return emptyLike(spark, store, readVersion)
    }

    // matching FILES, predicate pushed into the scan; store-relative paths
    val storeUri = fs.makeQualified(store).toUri.getPath
    val matched: Seq[String] = snapshot
      .filter(predicate)
      .select(input_file_name().as("graft_f")).distinct()
      .collect().map(_.getString(0))
      .map { f =>
        val p = new Path(new java.net.URI(f)).toUri.getPath
        p.stripPrefix(storeUri).stripPrefix("/")
      }.toSeq
    if (matched.isEmpty) return snapshot

    // rewrite only the matched files; keep = predicate not TRUE
    val scoped = CommitLog.readFilesAt(spark, store, readVersion, matched).get
    val keep = scoped.filter(!coalesce(predicate, lit(false)))

    // partition layout of the rewritten files, recovered from their own
    // paths (the writer's encoding, not value.toString): every matched
    // file must agree on the partition column chain
    val pcolsPerFile = matched.map(CommitLog.partitionColsOf).distinct
    require(pcolsPerFile.size == 1,
      s"matched files disagree on partition layout: $pcolsPerFile")
    val pcols = pcolsPerFile.head

    val staging = Swap.Suffix.staging(store, Swap.newTag())
    val w = keep.write
    (if (pcols.isEmpty) w else w.partitionBy(pcols: _*)).parquet(staging.toString)
    CommitLog.commitStaged(spark, store, staging, readVersion,
      retireNames = matched, wholeStore = false,
      meta = Map("operation" -> "delete"))
    CommitLog.read(spark, store).getOrElse(emptyLike(spark, store, readVersion))
  }

  /** SET-based DELETE: remove every row whose `keyCols` tuple matches ANY
    * row of `keys` — the "erase this list of users" primitive.
    *
    * Unlike `where(col.isin(...))` the key set is a DATAFRAME, never a
    * collected literal: a GDPR erasure batch of 10⁸ ids flows through
    * joins (semi to find matching files, anti to rewrite them) with the
    * key set broadcast or shuffled by Catalyst like any other join side.
    * File-grain copy-on-write exactly as [[where]]: untouched files
    * survive by name, one manifest retires the rewritten ones.
    *
    * NULL semantics are SQL `IN`'s: a null store key matches nothing and
    * stays; null rows in the key set match nothing (equi-join nulls
    * never compare equal). */
  def whereIn(
      spark: SparkSession,
      targetPath: String,
      keys: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "set-based DELETE needs at least one key column")
    val store = new Path(targetPath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitLog.adopt(spark, store)
    require(CommitLog.isLog(fs, store), s"DELETE target $targetPath does not exist")

    val readVersion = CommitLog.currentVersion(fs, store)
    val snapshot = CommitLog.read(spark, store, Some(readVersion)).getOrElse {
      return emptyLike(spark, store, readVersion)
    }
    val keyset = keys.select(keyCols.map(col): _*).distinct()

    val storeUri = fs.makeQualified(store).toUri.getPath
    // file name captured BEFORE the join: input_file_name() is
    // single-source and a key set that itself reads files would
    // otherwise fail analysis (MULTI_SOURCES_UNSUPPORTED)
    val matched: Seq[String] = snapshot
      .withColumn("graft_f", input_file_name())
      .join(keyset, keyCols, "left_semi")
      .select("graft_f").distinct()
      .collect().map(_.getString(0))
      .map { f =>
        val p = new Path(new java.net.URI(f)).toUri.getPath
        p.stripPrefix(storeUri).stripPrefix("/")
      }.toSeq
    if (matched.isEmpty) return snapshot

    val scoped = CommitLog.readFilesAt(spark, store, readVersion, matched).get
    val keep = scoped.join(keyset, keyCols, "left_anti")

    val pcolsPerFile = matched.map(CommitLog.partitionColsOf).distinct
    require(pcolsPerFile.size == 1,
      s"matched files disagree on partition layout: $pcolsPerFile")
    val pcols = pcolsPerFile.head

    val staging = Swap.Suffix.staging(store, Swap.newTag())
    val w = keep.write
    (if (pcols.isEmpty) w else w.partitionBy(pcols: _*)).parquet(staging.toString)
    CommitLog.commitStaged(spark, store, staging, readVersion,
      retireNames = matched, wholeStore = false,
      meta = Map("operation" -> s"delete-in:${keyCols.mkString(",")}"))
    CommitLog.read(spark, store).getOrElse(emptyLike(spark, store, readVersion))
  }

  /** TTL/RETENTION expiry: delete every row whose long `tsCol` value is
    * strictly below `cutoff`, paying DATA reads only at the boundary.
    *
    * `where(col(tsCol) < cutoff)` is correct but scans the whole pinned
    * snapshot to find matching files. Retention has structure a general
    * predicate lacks: on a time-clustered layout (zorder on the time
    * column, or plain append-by-arrival — both put disjoint time ranges
    * in different files) almost every file is either ENTIRELY expired or
    * entirely live. So classify per file from its own parquet FOOTER
    * min/max (one metadata read per file — and the file's own footer is
    * authoritative whatever stats column the store's writers declared in
    * the manifest, so a mis-declared store cannot mis-drop):
    *
    *  - footer max <  cutoff → every row expires: RETIRE the file
    *    outright, zero rows read or written;
    *  - footer min >= cutoff → no row expires: file untouched;
    *  - straddling, or no usable footer stats (nulls present, type not
    *    int64) → the general path on JUST those files: pushed-predicate
    *    match scan, copy-on-write rewrite of the files that really hold
    *    matches.
    *
    * One manifest retires dropped + rewritten files together. Null
    * timestamps never expire (SQL DELETE semantics: an undecidable
    * predicate must not delete) — footer stats with nulls fall to the
    * scan path, whose `ts < cutoff` filter is null-safe.
    *
    * At 100 TB: a day's retention pass on a date-clustered store costs
    * O(files) footer reads + a rewrite of the one boundary day —
    * `where` would scan the full 100 TB to learn the same thing. */
  def expire(
      spark: SparkSession,
      targetPath: String,
      tsCol: String,
      cutoff: Long): DataFrame = {
    val store = new Path(targetPath)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = store.getFileSystem(conf)
    CommitLog.adopt(spark, store)
    require(CommitLog.isLog(fs, store), s"expire target $targetPath does not exist")

    val readVersion = CommitLog.currentVersion(fs, store)
    val snapshot = CommitLog.read(spark, store, Some(readVersion)).getOrElse {
      return emptyLike(spark, store, readVersion)
    }
    val files = CommitLog.snapshotFiles(fs, store, readVersion)

    val (dropWhole, candidates) = {
      val classified = files.map { f =>
        val (_, stat) =
          CommitLog.fileFooterInfo(conf, new Path(store, f), Some(tsCol))
        stat match {
          case Some(s) if s.tpe == "long" && s.max.toLong < cutoff => (f, "drop")
          case Some(s) if s.tpe == "long" && s.min.toLong >= cutoff => (f, "keep")
          case _ => (f, "scan")
        }
      }
      (classified.collect { case (f, "drop") => f },
        classified.collect { case (f, "scan") => f })
    }

    // boundary files: find which actually hold expired rows, rewrite those
    val expired = col(tsCol) < lit(cutoff)
    val rewriteSrc: Seq[String] =
      if (candidates.isEmpty) Nil
      else {
        val storeUri = fs.makeQualified(store).toUri.getPath
        CommitLog.readFilesAt(spark, store, readVersion, candidates).get
          .filter(expired)
          .select(input_file_name().as("graft_f")).distinct()
          .collect().map(_.getString(0))
          .map { f =>
            val p = new Path(new java.net.URI(f)).toUri.getPath
            p.stripPrefix(storeUri).stripPrefix("/")
          }.toSeq
      }

    val retire = dropWhole ++ rewriteSrc
    if (retire.isEmpty) return snapshot // nothing expired: no commit

    val staging = Swap.Suffix.staging(store, Swap.newTag())
    if (rewriteSrc.nonEmpty) {
      val pcolsPerFile = rewriteSrc.map(CommitLog.partitionColsOf).distinct
      require(pcolsPerFile.size == 1,
        s"boundary files disagree on partition layout: $pcolsPerFile")
      val pcols = pcolsPerFile.head
      val keep = CommitLog.readFilesAt(spark, store, readVersion, rewriteSrc)
        .get.filter(!coalesce(expired, lit(false)))
      val w = keep.write
      (if (pcols.isEmpty) w else w.partitionBy(pcols: _*)).parquet(staging.toString)
    } else fs.mkdirs(staging) // drop-only commit: nothing staged
    CommitLog.commitStaged(spark, store, staging, readVersion,
      retireNames = retire, wholeStore = false,
      meta = Map("operation" -> s"expire:$tsCol<$cutoff",
        "expireDropped" -> dropWhole.size.toString,
        "expireRewritten" -> rewriteSrc.size.toString))
    CommitLog.read(spark, store).getOrElse(emptyLike(spark, store, readVersion))
  }

  private def emptyLike(spark: SparkSession, store: Path, v: Long): DataFrame = {
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schema = CommitLog.schemaAt(fs, store, v).getOrElse(
      org.apache.spark.sql.types.StructType(Nil))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }
}
