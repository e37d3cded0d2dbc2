package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Optimistic-concurrency commit log for parquet stores — the one write
  * protocol of every graft store: a minimal Delta/Iceberg-style
  * transaction log instead of in-place directory swaps. Stores written
  * by the retired staged-swap protocol come under the log through
  * [[adopt]].
  *
  * Layout: data files live in the store exactly as before (hive
  * partition dirs or flat), but the TRUTH about which files make up the
  * table is `_log/` — numbered commit manifests:
  *
  * {{{
  * store/
  *   _log/00000000000000000001.txt      # commit v1 (adds/removes/touched)
  *   _log/00000000000000000010.txt
  *   _log/00000000000000000010.checkpoint  # full file list at v10
  *   pcol=a/part-<uuid>.parquet            # immutable once written
  * }}}
  *
  * A commit records the files it ADDS, the files it logically REMOVES,
  * and the partition dirs it TOUCHES. The snapshot at version V = replay
  * of manifests 1..V (from the nearest checkpoint). Data files are
  * immutable and never deleted at commit time — removal is logical, so a
  * reader pinned to an older version keeps reading consistent data while
  * writers move the tip; [[vacuum]] reclaims files no retained version
  * references.
  *
  * Concurrency: writers stage files, then race to publish manifest V+1
  * via an ATOMIC create-if-absent (CAS). The loser re-reads the commits
  * that beat it; if their touched partition sets are DISJOINT from its
  * own, it rebases and retries at the new tip — two writers on different
  * partitions both succeed with no lock and no waiting. Overlapping
  * writers get exactly one winner; the loser throws [[ConflictException]]
  * (its computation read table state another commit just changed — the
  * caller must re-run it, not blindly re-publish). A whole-store rewrite
  * touches the reserved partition token `*` and conflicts with
  * everything.
  *
  * CAS primitive: on `file:` schemes a Hadoop rename can OVERWRITE an
  * existing destination (POSIX rename(2) semantics leak through), which
  * would silently replace a committed manifest under race — so local
  * publication uses `Files.createLink` (hard link: atomic, EEXIST if the
  * version slot is taken). On HDFS-like schemes rename-without-overwrite
  * is the documented atomic primitive and is used as-is. Either way the
  * manifest content is FULLY written and closed before publication, so a
  * reader never observes a torn manifest.
  *
  * Crash posture (simpler than the retired swap matrix):
  * nothing is visible until the CAS, so a crash at ANY earlier point
  * (files half-staged, files moved in, tmp manifest written) leaves the
  * table bit-for-bit at its previous version; the leftovers are orphans
  * that [[vacuum]] sweeps. There is no roll-forward state at all.
  *
  * Scale notes (100 TB): manifests record DELTAS (O(files touched per
  * commit)), not full listings; replay cost is bounded by a full-list
  * checkpoint every [[CheckpointEvery]] commits. Reads plan from the
  * manifest's explicit file list — no recursive directory listing of a
  * million-file store, which on object stores is itself a scan-killer.
  * Writers may declare a stats column ([[commitStaged]] `statsCol`):
  * per-file min/max land in the manifest (surviving checkpoints), and
  * range reads prune files driver-side BEFORE opening any footer —
  * manifest-level skipping on top of parquet's row-group pruning. The
  * remaining simplification vs a production table format: single-level
  * manifests (Iceberg's manifest tree compresses the metadata of
  * billions of files).
  */
object CommitLog {

  val LogDirName = "_log"
  /** Reserved touched-set token: conflicts with every other commit. */
  val WholeStore = "*"
  /** Reserved touched-set token for writers whose decisions depend on the
    * WHOLE table state (dedup admission: every admit is judged against
    * all history) rather than on the partitions they write: two commits
    * that both carry it conflict — writers serialize fail-loud under
    * plain OCC — while readers and disjoint-partition writers of OTHER
    * operators are unaffected: a single-writer guarantee enforced by the
    * atomic manifest CAS (no lock file, no TTL, no stale-takeover
    * window), and the loser knows its computation is stale, not merely
    * that someone holds a lock. */
  val SerialToken = "__serial__"
  /** Full file-list checkpoint cadence (replay never walks more than
    * this many manifests). */
  val CheckpointEvery = 10
  /** Manifest meta key carrying the table schema (JSON) as of that
    * commit — written by schema-recording writers (Merge), making the
    * table SELF-DESCRIBING: reads apply the recorded schema so evolved
    * columns appear (null-filled in pre-evolution files) without every
    * reader having to know evolution happened and opt into mergeSchema,
    * and commit-time type checking stops two disjoint-partition writers
    * from committing the SAME new column at DIFFERENT types — a conflict
    * partition-overlap OCC cannot see. */
  val SchemaMetaKey = "schema"
  /** Manifest meta key carrying the table's CHECK constraints (encoded
    * name→predicate map) as of that commit — declared via
    * [[setConstraint]], enforced by [[commitStaged]] on every commit's
    * ADDED rows (existing data was validated when the constraint was
    * declared). NULL predicates pass, like SQL CHECK. */
  val ConstraintsMetaKey = "constraints"
  /** Manifest meta marker for add-only commits — two blind appends never
    * conflict with each other (see `commitStaged(blindAppend)`). */
  val BlindAppendMetaKey = "blindAppend"

  final class ConflictException(msg: String) extends RuntimeException(msg)
  /** A commit whose staged rows violate a declared CHECK constraint —
    * refused loudly, store untouched (nothing was visible pre-CAS). */
  final class ConstraintException(msg: String) extends RuntimeException(msg)

  /** Per-file min/max of the store's declared stats column — the
    * manifest-level pruning statistic of production table formats:
    * a point/range read consults the (driver-resident) stats and skips
    * files whose range cannot match BEFORE opening any footer, which at
    * object-store scale is the difference between one metadata read and
    * one per file. `tpe` is "long" or "string" (the two key types the
    * engine's stores sort/fold by). */
  final case class FileStat(tpe: String, min: String, max: String) {
    def overlaps(lo: Any, hi: Any): Boolean = tpe match {
      case "long" =>
        val (l, h) = (asLong(lo), asLong(hi))
        !(max.toLong < l || min.toLong > h)
      case "string" =>
        val (l, h) = (lo.toString, hi.toString)
        !(max < l || min > h)
      case _ => true // unknown type: never prune on it
    }
    private def asLong(v: Any): Long = v match {
      case n: Number => n.longValue
      case s: String => s.toLong
    }
  }

  /** One committed version: what changed and (for conflict detection)
    * which partition dirs it touched. Paths are store-relative.
    * `fileStats` carries the optional per-added-file min/max of the
    * writer's declared stats column. */
  final case class Manifest(
      version: Long,
      touched: Set[String],
      added: Seq[String],
      removed: Seq[String],
      meta: Map[String, String],
      fileStats: Map[String, FileStat] = Map.empty,
      fileRows: Map[String, Long] = Map.empty)

  def logDir(store: Path): Path = new Path(store, LogDirName)

  /** A store is log-backed iff `_log/` exists. Every store operator
    * writes through the log; a store without one is either a fresh path
    * or a legacy store that [[adopt]] brings under the log. */
  def isLog(fs: FileSystem, store: Path): Boolean = fs.exists(logDir(store))

  // ------------------------------------------------------------- manifest IO

  private def manifestName(v: Long) = f"$v%020d.txt"
  private def checkpointName(v: Long) = f"$v%020d.checkpoint"

  // Fields are URL-encoded per line: partition values may contain any
  // character Spark's path escaping lets through, and the format must
  // never be ambiguous about whitespace.
  private def enc(s: String) =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def writeFully(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try { out.write(text.getBytes("UTF-8")); out.hsync() } finally out.close()
  }

  private def readFully(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
  }

  private def renderManifest(m: Manifest): String = {
    val sb = new StringBuilder
    sb ++= s"version\t${m.version}\n"
    m.touched.toSeq.sorted.foreach(t => sb ++= s"touched\t${enc(t)}\n")
    m.added.foreach(f => sb ++= s"added\t${enc(f)}\n")
    m.removed.foreach(f => sb ++= s"removed\t${enc(f)}\n")
    m.meta.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb ++= s"meta\t${enc(k)}\t${enc(v)}\n"
    }
    m.fileStats.toSeq.sortBy(_._1).foreach { case (f, s) =>
      sb ++= s"fstat\t${enc(f)}\t${enc(s.tpe)}\t${enc(s.min)}\t${enc(s.max)}\n"
    }
    m.fileRows.toSeq.sortBy(_._1).foreach { case (f, n) =>
      sb ++= s"frows\t${enc(f)}\t$n\n"
    }
    sb ++= "end\n" // terminator: a manifest without it is torn → corrupt
    sb.result()
  }

  private def parseManifest(text: String, path: Path): Manifest = {
    val lines = text.split("\n", -1).toSeq
    require(lines.contains("end"),
      s"commit manifest $path is torn (no terminator) — the log is corrupt; " +
        "manifests are fully written before publication, so this file was " +
        "damaged after commit")
    var version = -1L
    val touched = Set.newBuilder[String]
    val added = Seq.newBuilder[String]
    val removed = Seq.newBuilder[String]
    val meta = Map.newBuilder[String, String]
    val fstats = Map.newBuilder[String, FileStat]
    val frows = Map.newBuilder[String, Long]
    lines.takeWhile(_ != "end").foreach { line =>
      line.split("\t", -1) match {
        case Array("version", v) => version = v.toLong
        case Array("touched", t) => touched += dec(t)
        case Array("added", f) => added += dec(f)
        case Array("removed", f) => removed += dec(f)
        case Array("meta", k, v) => meta += dec(k) -> dec(v)
        case Array("fstat", f, t, mn, mx) =>
          fstats += dec(f) -> FileStat(dec(t), dec(mn), dec(mx))
        case Array("frows", f, n) => frows += dec(f) -> n.toLong
        case Array("") => // trailing blank
        case other => throw new IllegalStateException(
          s"unrecognized manifest line in $path: '$line'")
      }
    }
    require(version > 0, s"manifest $path lacks a version record")
    Manifest(version, touched.result(), added.result(), removed.result(),
      meta.result(), fstats.result(), frows.result())
  }

  /** Atomic publish of the fully-written `tmp` as `dst`; false = the
    * version slot was already taken (lost the race). See the class doc
    * for why local FS cannot use plain rename. */
  private def casPublish(fs: FileSystem, tmp0: Path, dst0: Path): Boolean = {
    val tmp = fs.makeQualified(tmp0)
    val dst = fs.makeQualified(dst0)
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      val tmpFile = java.nio.file.Paths.get(tmp.toUri.getPath)
      val dstFile = java.nio.file.Paths.get(dst.toUri.getPath)
      try {
        java.nio.file.Files.createLink(dstFile, tmpFile)
        fs.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(tmp, false); false
      }
    } else {
      // HDFS-contract rename: atomic, returns false when dst exists
      if (fs.rename(tmp, dst)) true
      else { fs.delete(tmp, false); false }
    }
  }

  // --------------------------------------------------------------- snapshots

  private def listLog(fs: FileSystem, store: Path): Array[FileStatus] = {
    val dir = logDir(store)
    if (!fs.exists(dir)) Array.empty else fs.listStatus(dir)
  }

  /** Latest committed version; 0 = no commits (empty/new store). */
  def currentVersion(fs: FileSystem, store: Path): Long = {
    val vs = listLog(fs, store).map(_.getPath.getName)
      .filter(_.endsWith(".txt")).map(_.stripSuffix(".txt").toLong)
    if (vs.isEmpty) 0L else vs.max
  }

  def readManifest(fs: FileSystem, store: Path, v: Long): Manifest =
    parseManifest(
      readFully(fs, new Path(logDir(store), manifestName(v))),
      new Path(logDir(store), manifestName(v)))

  /** Store-relative data files making up version `v` (0 → empty). Replays
    * from the nearest checkpoint at or below `v`. */
  def snapshotFiles(fs: FileSystem, store: Path, v: Long): Seq[String] =
    snapshotFilesWithStats(fs, store, v).map(_._1)

  /** [[snapshotFiles]] plus each file's stats-column min/max when its
    * committing writer recorded one (stats survive checkpoint replay —
    * the checkpoint carries them alongside the file list). */
  def snapshotFilesWithStats(
      fs: FileSystem, store: Path, v: Long): Seq[(String, Option[FileStat])] =
    replaySnapshot(fs, store, v)._1

  /** Per-file row counts recorded at commit time (one footer read per
    * added file, then O(metadata) forever). Files committed by writers
    * predating the counts channel are absent from the map. */
  def snapshotRowCounts(fs: FileSystem, store: Path, v: Long): Map[String, Long] =
    replaySnapshot(fs, store, v)._2

  /** `COUNT(*)` of version `v` from manifest metadata alone — the O(1)
    * count a table format owes its users (no scan, no footer reads at
    * query time). None when any snapshot file lacks a recorded count
    * (store written by a pre-counts version of the engine): the caller
    * falls back to counting the data. */
  def fastCount(fs: FileSystem, store: Path, v: Long): Option[Long] = {
    val (files, rows) = replaySnapshot(fs, store, v)
    if (files.exists { case (f, _) => !rows.contains(f) }) None
    else Some(files.iterator.map { case (f, _) => rows(f) }.sum)
  }

  /** MIN/MAX of the stats column at version `v` from manifest metadata
    * alone — the scan-free companion to [[fastCount]] (min of file mins,
    * max of file maxes; exact because file stats are exact). Returned as
    * the recorded strings with the stat type ("long"/"string") so the
    * caller compares in the right domain. None when ANY snapshot file
    * lacks stats (written without a declared statsCol, or an
    * all-null/unsupported-type file): a partial envelope must not claim
    * to bound the table — fall back to scanning. Empty snapshot → None
    * (a table with no rows has no extremes). */
  def fastMinMax(
      fs: FileSystem, store: Path, v: Long): Option[(String, String, String)] = {
    val (files, _) = replaySnapshot(fs, store, v)
    if (files.isEmpty || files.exists(_._2.isEmpty)) return None
    val stats = files.map(_._2.get)
    val tpes = stats.map(_.tpe).distinct
    if (tpes.size != 1) return None // mixed stat types: refuse to compare
    tpes.head match {
      case "long" => Some((
        "long",
        stats.map(_.min.toLong).min.toString,
        stats.map(_.max.toLong).max.toString))
      case "string" =>
        // parquet string stats order by unsigned UTF-8 bytes; combining
        // with Scala's UTF-16 String ordering would mis-bound
        // supplementary-plane text (a surrogate pair sorts below U+FFFF
        // in UTF-16 but above it in UTF-8)
        val byUtf8: Ordering[String] = Ordering.comparatorToOrdering(
          (a: String, b: String) => java.util.Arrays.compareUnsigned(
            a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            b.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        Some(("string", stats.map(_.min).min(byUtf8), stats.map(_.max).max(byUtf8)))
      case _ => None
    }
  }

  private def replaySnapshot(
      fs: FileSystem, store: Path, v: Long):
      (Seq[(String, Option[FileStat])], Map[String, Long]) = {
    if (v <= 0) return (Seq.empty, Map.empty)
    val ckpts = listLog(fs, store).map(_.getPath.getName)
      .filter(_.endsWith(".checkpoint"))
      .map(_.stripSuffix(".checkpoint").toLong)
      .filter(_ <= v)
    val base = if (ckpts.isEmpty) 0L else ckpts.max
    val files = scala.collection.mutable.LinkedHashSet[String]()
    val stats = scala.collection.mutable.Map[String, FileStat]()
    val rows = scala.collection.mutable.Map[String, Long]()
    if (base > 0) {
      val text = readFully(fs, new Path(logDir(store), checkpointName(base)))
      require(text.endsWith("end\n"),
        s"checkpoint $base of $store is torn — delete it; replay falls " +
          "back to the manifest chain")
      text.split("\n", -1).takeWhile(_ != "end").foreach {
        case "" =>
        case line => line.split("\t", -1) match {
          case Array("file", f) => files += dec(f)
          case Array("file", f, t, mn, mx) =>
            val name = dec(f)
            files += name
            stats(name) = FileStat(dec(t), dec(mn), dec(mx))
          case Array("frows", f, n) => rows(dec(f)) = n.toLong
          case Array("schema", _) => // table schema line — schemaAt reads it
          case Array("constraints", _) => // constraint set — constraintsAt
          case _ => files += dec(line.stripPrefix("file\t")) // legacy line
        }
      }
    }
    ((base + 1) to v).foreach { i =>
      val m = readManifest(fs, store, i)
      m.removed.foreach { f => files -= f; stats -= f; rows -= f }
      m.added.foreach(files += _)
      m.fileStats.foreach { case (f, s) => stats(f) = s }
      m.fileRows.foreach { case (f, n) => rows(f) = n }
    }
    (files.toSeq.map(f => (f, stats.get(f))), rows.toMap)
  }

  /** The recorded table schema at or below version `v`, or None when no
    * retained commit recorded one (stores written by non-schema-recording
    * writers). The walk is BOUNDED: manifests from `v` down to the
    * nearest checkpoint, then the checkpoint's own schema line —
    * checkpoints persist the schema in force when they were written, so
    * vacuuming old manifests never loses it and no read ever walks more
    * than [[CheckpointEvery]] manifests. */
  def schemaAt(
      fs: FileSystem,
      store: Path,
      v: Long): Option[org.apache.spark.sql.types.StructType] = {
    if (v <= 0) return None
    val ckpts = listLog(fs, store).map(_.getPath.getName)
      .filter(_.endsWith(".checkpoint"))
      .map(_.stripSuffix(".checkpoint").toLong)
      .filter(_ <= v)
    val base = if (ckpts.isEmpty) 0L else ckpts.max
    var i = v
    while (i > base) {
      readManifest(fs, store, i).meta.get(SchemaMetaKey) match {
        case Some(json) => return Some(parseSchema(json))
        case None => i -= 1
      }
    }
    if (base == 0) None
    else {
      val text = readFully(fs, new Path(logDir(store), checkpointName(base)))
      text.split("\n", -1).takeWhile(_ != "end").collectFirst {
        case line if line.startsWith("schema\t") =>
          parseSchema(dec(line.split("\t", -1)(1)))
      }
    }
  }

  private def parseSchema(json: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  private def encConstraints(cs: Map[String, String]): String =
    cs.toSeq.sortBy(_._1).map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")

  private def decConstraints(s: String): Map[String, String] =
    if (s.isEmpty) Map.empty
    else s.split("&", -1).iterator.map { kv =>
      val i = kv.indexOf('=')
      dec(kv.substring(0, i)) -> dec(kv.substring(i + 1))
    }.toMap

  /** The CHECK constraints in force at or below version `v` (empty when
    * none declared). Bounded walk, same shape as [[schemaAt]]:
    * manifests down to the nearest checkpoint, then the checkpoint's own
    * constraints line — vacuuming the declaring manifest never loses the
    * constraint set. */
  def constraintsAt(fs: FileSystem, store: Path, v: Long): Map[String, String] = {
    if (v <= 0) return Map.empty
    val ckpts = listLog(fs, store).map(_.getPath.getName)
      .filter(_.endsWith(".checkpoint"))
      .map(_.stripSuffix(".checkpoint").toLong)
      .filter(_ <= v)
    val base = if (ckpts.isEmpty) 0L else ckpts.max
    var i = v
    while (i > base) {
      readManifest(fs, store, i).meta.get(ConstraintsMetaKey) match {
        case Some(s) => return decConstraints(s)
        case None => i -= 1
      }
    }
    if (base == 0) Map.empty
    else {
      val text = readFully(fs, new Path(logDir(store), checkpointName(base)))
      text.split("\n", -1).takeWhile(_ != "end").collectFirst {
        case line if line.startsWith("constraints\t") =>
          decConstraints(dec(line.split("\t", -1)(1)))
      }.getOrElse(Map.empty)
    }
  }

  /** Declare a CHECK constraint (`name`, SQL `predicate` over the
    * table's columns). EXISTING data is validated first — a constraint
    * the current snapshot already violates is refused, store untouched
    * (the Delta semantics: constraints hold for all data, not just
    * future commits). The declaration commits a metadata-only manifest
    * that touches [[WholeStore]], so any concurrent data writer that
    * validated against the old constraint set loses its CAS and re-runs
    * under the new one — no window where unvalidated data slips in.
    * Every later [[commitStaged]] validates its ADDED rows. NULL
    * predicates pass, as in SQL CHECK. */
  def setConstraint(
      spark: SparkSession,
      store: Path,
      name: String,
      predicate: String): Long = {
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tip = currentVersion(fs, store)
    read(spark, store, Some(tip)).foreach { df =>
      val bad = df.filter(
        org.apache.spark.sql.functions.expr(predicate) <=>
          org.apache.spark.sql.functions.lit(false)).limit(1).count()
      if (bad > 0)
        throw new ConstraintException(
          s"cannot declare CHECK $name ($predicate) on $store: existing " +
            "rows violate it — clean the data first (DELETE) or fix the predicate")
    }
    val cs = constraintsAt(fs, store, tip) + (name -> predicate)
    val staging = new Path(store,
      ".constraint-staging-" + java.util.UUID.randomUUID().toString)
    commitStaged(spark, store, staging, tip, Nil, wholeStore = false,
      meta = Map(ConstraintsMetaKey -> encConstraints(cs),
        "operation" -> s"set-constraint:$name"),
      extraTouched = Seq(WholeStore))
  }

  /** Remove a declared constraint (metadata-only commit, same conflict
    * posture as [[setConstraint]]). */
  def dropConstraint(spark: SparkSession, store: Path, name: String): Long = {
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tip = currentVersion(fs, store)
    val cs = constraintsAt(fs, store, tip) - name
    val staging = new Path(store,
      ".constraint-staging-" + java.util.UUID.randomUUID().toString)
    commitStaged(spark, store, staging, tip, Nil, wholeStore = false,
      meta = Map(ConstraintsMetaKey -> encConstraints(cs),
        "operation" -> s"drop-constraint:$name"),
      extraTouched = Seq(WholeStore))
  }

  /** The table at `version` (default: current tip) as a DataFrame, or
    * None when the snapshot holds no files. Planning starts from the
    * manifest's explicit file list — no store-wide directory listing —
    * with `basePath` set so hive partition columns still materialize and
    * prune. A returned DataFrame stays consistent even while writers
    * commit and remove files logically, because physical deletion is
    * deferred to [[vacuum]]. When the pinned version carries a recorded
    * schema ([[SchemaMetaKey]]) it is applied explicitly: files written
    * before an evolution read back with the evolved columns null-filled,
    * whatever file Spark would have sampled for inference, and a
    * time-travel read below the evolution sees the OLD schema. */
  def read(
      spark: SparkSession,
      store: Path,
      version: Option[Long] = None,
      mergeSchema: Boolean = false): Option[DataFrame] = {
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.getOrElse(currentVersion(fs, store))
    val files = snapshotFiles(fs, store, v)
    if (files.isEmpty) None
    else {
      // a shallow clone's manifest references its SOURCE's files by
      // absolute path; basePath (which must prefix every file) is then
      // impossible — and unneeded, since clones are unpartitioned
      val external = files.exists(_.startsWith("/"))
      val reader0 = spark.read.option("mergeSchema", mergeSchema.toString)
      val reader =
        if (external) reader0 else reader0.option("basePath", store.toString)
      val withSchema = schemaAt(fs, store, v).fold(reader)(reader.schema)
      Some(withSchema.parquet(files.map(f => new Path(store, f).toString): _*))
    }
  }

  /** True when the store has a log with at least one non-empty version. */
  def nonEmpty(fs: FileSystem, store: Path): Boolean =
    isLog(fs, store) && snapshotFiles(fs, store, currentVersion(fs, store)).nonEmpty

  /** DESCRIBE HISTORY: one row per still-available commit — (version,
    * operation, n_added, n_removed, blind_append, commit_ms) — from
    * driver-side manifest reads alone (no data touched). Manifests below
    * the vacuum floor are simply absent; the history shows what the log
    * still proves. `commit_ms` is the manifest file's modification time —
    * the publish instant, not the (unrecorded) staging start. */
  def history(spark: SparkSession, store: Path): DataFrame = {
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(isLog(fs, store), s"history needs a commit-log store ($store)")
    val tip = currentVersion(fs, store)
    val rows = (1L to tip).flatMap { v =>
      val p = new Path(logDir(store), manifestName(v))
      if (!fs.exists(p)) None
      else {
        val m = readManifest(fs, store, v)
        Some((v,
          m.meta.getOrElse("operation", ""),
          m.added.size.toLong, m.removed.size.toLong,
          m.meta.get(BlindAppendMetaKey).contains("true"),
          fs.getFileStatus(p).getModificationTime))
      }
    }
    import spark.implicits._
    rows.toDF("version", "operation", "n_added", "n_removed",
      "blind_append", "commit_ms")
  }

  /** RESTORE the table to the state of an earlier `toVersion` — rollback
    * as a NEW commit, not history rewrite: the restore manifest re-adds
    * the old snapshot's files and removes the current ones, so every
    * intermediate version stays readable (time travel through the bad
    * deploy still works, and the restore itself is auditable in the
    * log). O(metadata): data files are immutable and still on disk, so
    * nothing is read, copied, or moved.
    *
    * Requires every file of the target snapshot to still exist —
    * a version whose files [[vacuum]] already reclaimed cannot be
    * restored (refused loudly rather than publishing a manifest that
    * reads would trip over). Restoring to the current tip is a no-op
    * (no commit). Conflicts like any whole-store commit: concurrent
    * writers lose or the restore does, loudly. */
  def restore(
      spark: SparkSession,
      store: Path,
      toVersion: Long): Long = {
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(isLog(fs, store), s"restore needs a commit-log store ($store)")
    val tip = currentVersion(fs, store)
    require(toVersion >= 1 && toVersion <= tip,
      s"cannot restore $store to version $toVersion (tip is $tip)")
    if (toVersion == tip) return tip
    val target = snapshotFilesWithStats(fs, store, toVersion)
    val targetRows = snapshotRowCounts(fs, store, toVersion)
    val current = snapshotFiles(fs, store, tip).toSet
    val missing = target.collect {
      case (f, _) if !f.startsWith("/") && !fs.exists(new Path(store, f)) => f
    }
    require(missing.isEmpty,
      s"cannot restore to version $toVersion: ${missing.size} of its files " +
        s"were vacuumed (first: ${missing.headOption.getOrElse("")})")
    val targetNames = target.map(_._1)
    val added = targetNames.filterNot(current.contains)
    val removed = current.toSeq.filterNot(targetNames.toSet.contains).sorted
    val schemaMeta: Map[String, String] =
      schemaAt(fs, store, toVersion).map(s => SchemaMetaKey -> s.json).toMap
    val m = Manifest(
      tip + 1, Set(WholeStore), added, removed,
      meta = schemaMeta ++ Map(
        "operation" -> s"restore:$toVersion"),
      fileStats = target.collect {
        case (f, Some(s)) if added.contains(f) => f -> s
      }.toMap,
      fileRows = targetRows.filter { case (f, _) => added.contains(f) })
    val tmp = new Path(logDir(store),
      ".tmp-" + java.util.UUID.randomUUID().toString)
    writeFully(fs, tmp, renderManifest(m))
    if (!casPublish(fs, tmp, new Path(logDir(store), manifestName(tip + 1))))
      throw new ConflictException(
        s"restore of $store to $toVersion lost the commit race at " +
          s"version ${tip + 1} — re-run against the new tip")
    maybeCheckpoint(fs, store, tip + 1)
    tip + 1
  }

  /** Zero-copy SHALLOW CLONE of `source`'s snapshot at `version` (default
    * tip) into a NEW store at `target` — the dev-branch / what-if-table
    * primitive. O(metadata): no data file is read or copied; the clone's
    * first manifest references the source's files by ABSOLUTE path (plus
    * the source's recorded per-file stats/row counts and schema, so
    * metadata COUNT(*) and stats pruning keep working).
    *
    * The clone then lives its own life: merges/deletes/appends diverge
    * copy-on-write — the first write touching a shared file rewrites it
    * INTO the clone's own directory and retires the absolute reference —
    * and the clone's vacuum sweeps only files physically under the
    * clone, so shared source files are structurally safe from the clone
    * side. The one caveat every production shallow clone carries:
    * VACUUM ON THE SOURCE can reclaim files a clone still references
    * (the source's log knows nothing of clones) — retain enough source
    * versions, or deep-copy when the lifecycles must decouple.
    *
    * Unpartitioned sources only: partition-column recovery is
    * path-relative and an absolute reference would smuggle the source's
    * directory names into the clone's layout. */
  def shallowClone(
      spark: SparkSession,
      source: Path,
      target: Path,
      version: Option[Long] = None): Long = {
    val fs = source.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(isLog(fs, source), s"shallow clone needs a commit-log source " +
      s"($source has no _log/)")
    require(!fs.exists(target),
      s"shallow clone target $target already exists")
    val v = version.getOrElse(currentVersion(fs, source))
    val files = snapshotFilesWithStats(fs, source, v)
    val rows = snapshotRowCounts(fs, source, v)
    require(files.forall { case (f, _) => !partitionColsOf(f).exists(_ => true) },
      "shallow clone supports unpartitioned sources only")
    require(files.forall { case (f, _) => !f.startsWith("/") },
      "cloning a clone is not supported — clone the original source")
    def abs(f: String): String =
      fs.makeQualified(new Path(source, f)).toUri.getPath
    val schemaMeta: Map[String, String] =
      schemaAt(fs, source, v).map(s => SchemaMetaKey -> s.json).toMap
    val m = Manifest(
      1L, Set(WholeStore),
      added = files.map { case (f, _) => abs(f) },
      removed = Nil,
      meta = schemaMeta ++ Map(
        "operation" -> "shallow-clone",
        "cloneSource" -> fs.makeQualified(source).toUri.getPath,
        "cloneSourceVersion" -> v.toString),
      fileStats = files.collect { case (f, Some(s)) => abs(f) -> s }.toMap,
      fileRows = rows.map { case (f, n) => abs(f) -> n })
    fs.mkdirs(logDir(target))
    val tmp = new Path(logDir(target),
      ".tmp-" + java.util.UUID.randomUUID().toString)
    writeFully(fs, tmp, renderManifest(m))
    require(casPublish(fs, tmp, new Path(logDir(target), manifestName(1L))),
      s"clone target $target was concurrently initialized")
    1L
  }

  /** Hive partition column names along a store-relative file path, in
    * order (`date=2024/k=1/part.parquet` → date, k; flat → empty) — the
    * writer's own layout, recovered from the path rather than guessed
    * from values. */
  def partitionColsOf(rel: String): Seq[String] =
    rel.split('/').dropRight(1).toSeq
      .filter(_.contains('='))
      .map(_.takeWhile(_ != '='))

  /** A SUBSET of a snapshot's files as a DataFrame — the file-grain read
    * behind row-level DELETE (rewrite only the files that hold matches)
    * and the change feed (diff only the files a commit touched). Same
    * contract as [[read]]: `basePath` anchors at the store so hive
    * partition columns materialize, and the schema recorded at `v` (when
    * any) applies, so pre-evolution files read back with evolved columns
    * null-filled. `files` are store-relative; None when empty. */
  def readFilesAt(
      spark: SparkSession,
      store: Path,
      v: Long,
      files: Seq[String]): Option[DataFrame] = {
    if (files.isEmpty) return None
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val external = files.exists(_.startsWith("/")) // clone-shared source files
    val reader =
      if (external) spark.read
      else spark.read.option("basePath", store.toString)
    val withSchema = schemaAt(fs, store, v).fold(reader)(reader.schema)
    Some(withSchema.parquet(files.map(f => new Path(store, f).toString): _*))
  }

  /** The sub-table under `store/<sub>/` at `version` (default tip), or
    * None when that slice of the snapshot holds no files. For stores
    * that keep SEVERAL tables under one log (a dedup store's
    * `sigs/ bands/ buckets/`) so a single manifest moves all of them
    * atomically; `basePath` anchors at the sub-table so its hive
    * partition columns (`batch=...`) still materialize and prune. */
  def readSub(
      spark: SparkSession,
      store: Path,
      sub: String,
      version: Option[Long] = None): Option[DataFrame] = {
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.getOrElse(currentVersion(fs, store))
    val files = snapshotFiles(fs, store, v).filter(_.startsWith(sub + "/"))
    if (files.isEmpty) None
    else Some(spark.read
      .option("basePath", new Path(store, sub).toString)
      .parquet(files.map(f => new Path(store, f).toString): _*))
  }

  // ----------------------------------------------------------------- commits

  private def isDataFile(name: String) =
    !name.startsWith("_") && !name.startsWith(".")

  /** Recursively collect data files under `dir`, as paths relative to
    * `base`. */
  private def dataFilesUnder(fs: FileSystem, base: Path, dir: Path): Seq[String] = {
    if (!fs.exists(dir)) return Seq.empty
    val baseUri = base.toUri.getPath
    def rel(p: Path): String = {
      val s = p.toUri.getPath
      s.stripPrefix(baseUri).stripPrefix("/")
    }
    val out = Seq.newBuilder[String]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (!isDataFile(st.getPath.getName)) ()
      else if (st.isDirectory) walk(st.getPath)
      else out += rel(st.getPath)
    }
    walk(dir)
    out.result()
  }

  /** Commit a fully-staged rewrite: move `staging`'s data files into the
    * store (unique Spark file names — never a collision, even between
    * concurrent writers landing in the same new partition dir) and
    * publish a manifest that adds them and logically removes the files
    * under `retireNames` (partition dir names; ignored when
    * `wholeStore`, which removes the entire previous snapshot).
    *
    * `baseVersion` is the version the CALLER'S COMPUTATION READ — the
    * OCC anchor. Conflicts are judged against every commit that landed
    * after it, not merely commits racing the publication itself: a
    * writer that read v3, computed for a minute, and publishes while the
    * tip is at v7 must check v4..v7 for overlap (a slow writer is just a
    * long race).
    *
    * Returns the committed version. Throws [[ConflictException]] when
    * any commit after `baseVersion` touched an overlapping partition
    * set — the caller computed its staged rows from table state that no
    * longer holds and must RE-RUN the whole operation, not re-publish.
    */
  def commitStaged(
      spark: SparkSession,
      store: Path,
      staging: Path,
      baseVersion: Long,
      retireNames: Seq[String],
      wholeStore: Boolean,
      meta: Map[String, String] = Map.empty,
      maxRetries: Int = 20,
      extraTouched: Seq[String] = Nil,
      statsCol: Option[String] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      blindAppend: Boolean = false): Long = {
    // Delta-style blind-append rule: a commit that only ADDS files
    // cannot invalidate another add-only commit's read state, so two
    // blind appends racing into the SAME partition dir both succeed
    // instead of one spuriously conflicting. Writers that REMOVE or
    // read whole-table state are not blind and conflict normally (a
    // SerialToken/WholeStore fold still sees every append).
    require(!blindAppend || (retireNames.isEmpty && !wholeStore),
      "a blind append must not retire files or rewrite the store")
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(logDir(store))
    val added = dataFilesUnder(fs, staging, staging)
    // CHECK constraints: validate the staged rows BEFORE anything moves —
    // a refused commit leaves no trace at all. Only ADDED rows are
    // scanned (existing data was validated when the constraint was
    // declared); all constraints fold into ONE aggregate pass.
    if (added.nonEmpty) {
      val cs = constraintsAt(fs, store, currentVersion(fs, store))
      if (cs.nonEmpty) {
        import org.apache.spark.sql.functions.{expr, lit, sum, when}
        val df = spark.read.option("basePath", staging.toString)
          .parquet(added.map(f => new Path(staging, f).toString): _*)
        val names = cs.toSeq.sortBy(_._1)
        val aggCols = names.map { case (n, p) =>
          sum(when(expr(p) <=> lit(false), 1L).otherwise(0L)).as(n) }
        val row = df.agg(aggCols.head, aggCols.tail: _*).head()
        val viols = names.zipWithIndex.collect {
          case ((n, p), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
            s"$n [$p]: ${row.getLong(i)} staged rows"
        }
        if (viols.nonEmpty) {
          fs.delete(staging, true)
          throw new ConstraintException(
            s"commit to $store violates CHECK constraint(s) " +
              s"${viols.mkString("; ")} — nothing published")
        }
      }
    }
    // move staged files in under their original (globally unique) names;
    // invisible to every reader until the manifest publishes
    added.foreach { f =>
      val dst = new Path(store, f)
      fs.mkdirs(dst.getParent)
      if (!fs.rename(new Path(staging, f), dst))
        throw new java.io.IOException(
          s"could not move staged file $f into $store (nothing published; " +
            "moved files are orphans until a manifest commits)")
    }
    fs.delete(staging, true)
    val touched: Set[String] =
      if (wholeStore) Set(WholeStore)
      else retireNames.toSet ++ added.flatMap(dirKey) ++ extraTouched
    // one footer read per just-moved file: row count always (buys
    // O(metadata) COUNT(*) forever), plus min/max of the declared stats
    // column when the writer names one. Driver-side metadata reads at
    // commit time — never a data scan.
    val conf = spark.sparkContext.hadoopConfiguration
    val footer: Map[String, (Long, Option[FileStat])] = added.map { f =>
      f -> fileFooterInfo(conf, new Path(store, f), statsCol)
    }.toMap
    val fstats: Map[String, FileStat] =
      footer.collect { case (f, (_, Some(s))) => f -> s }
    val frows: Map[String, Long] = footer.map { case (f, (n, _)) => f -> n }
    def abort(reason: String): Nothing = {
      // drop our never-visible files so a failed commit leaves no orphans
      added.foreach(f => fs.delete(new Path(store, f), false))
      throw new ConflictException(reason)
    }

    var checked = baseVersion // conflict-checked through this version
    var attempt = 0
    while (attempt < maxRetries) {
      val tip = currentVersion(fs, store)
      ((checked + 1) to tip).foreach { i =>
        val other = readManifest(fs, store, i)
        val bothBlind =
          blindAppend && other.meta.get(BlindAppendMetaKey).contains("true")
        if (!bothBlind && conflicts(touched, other.touched))
          abort(
            s"commit on $store conflicts with commit v$i touching " +
              s"[${other.touched.mkString(",")}] which overlaps " +
              s"[${touched.mkString(",")}] (this writer read v$baseVersion)" +
              " — re-run the operation against the new table state")
      }
      checked = tip
      // Schema evolution bookkeeping, re-derived per attempt because the
      // tip (and thus the schema in force) can move between rebases:
      // a column this commit carries at a DIFFERENT type than the
      // recorded schema is a conflict partition-overlap OCC cannot see
      // (two disjoint-partition writers adding the same column at
      // different types would otherwise both commit and poison every
      // future read) — refuse loudly, store untouched. Compatible new
      // columns append; recorded schema is add-only, so evolved = prior
      // fields + genuinely new ones.
      val schemaMeta: Map[String, String] = schema match {
        case None => Map.empty
        case Some(s) =>
          val prior = schemaAt(fs, store, tip)
          prior.foreach { p =>
            val clash = s.fields.flatMap(f =>
              p.fields.find(_.name == f.name)
                .filter(_.dataType != f.dataType)
                .map(pf => s"${f.name}: store has ${pf.dataType.simpleString}, " +
                  s"commit brings ${f.dataType.simpleString}"))
            if (clash.nonEmpty)
              abort(s"schema type conflict on $store — ${clash.mkString("; ")}. " +
                "Evolution only ADDS columns; a type change needs an explicit " +
                "whole-store rewrite")
          }
          val evolved = prior match {
            case None => s
            case Some(p) => org.apache.spark.sql.types.StructType(
              p.fields ++ s.fields.filterNot(f => p.fieldNames.contains(f.name)))
          }
          Map(SchemaMetaKey -> evolved.json)
      }
      // all intervening commits are disjoint: their partitions are not
      // ours, so the files we retire are the same ones the base snapshot
      // held; recompute from the tip anyway (cheap, and exact by
      // construction under no-overlap)
      val snapshot = snapshotFiles(fs, store, tip)
      val removed =
        if (wholeStore) snapshot
        else snapshot.filter(f =>
          retireNames.exists(r => f == r || f.startsWith(r + "/")))
      val v = tip + 1
      val blindMeta: Map[String, String] =
        if (blindAppend) Map(BlindAppendMetaKey -> "true") else Map.empty
      val m = Manifest(v, touched, added, removed,
        meta ++ schemaMeta ++ blindMeta, fstats, frows)
      val tmp = new Path(logDir(store),
        ".tmp-" + java.util.UUID.randomUUID().toString)
      writeFully(fs, tmp, renderManifest(m))
      if (casPublish(fs, tmp, new Path(logDir(store), manifestName(v)))) {
        maybeCheckpoint(fs, store, v)
        return v
      }
      attempt += 1 // lost the CAS: loop re-checks whoever beat us
    }
    added.foreach(f => fs.delete(new Path(store, f), false))
    throw new java.io.IOException(
      s"could not commit to $store after $maxRetries rebases (extreme " +
        "disjoint-writer churn); staged files dropped, nothing published")
  }

  /** One footer open per file: the row count, plus min/max of `column`
    * when requested (see [[statOf]] for when stats are withheld). */
  private[operators] def fileFooterInfo(
      conf: org.apache.hadoop.conf.Configuration,
      file: Path,
      column: Option[String]): (Long, Option[FileStat]) = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try (reader.getRecordCount, column.flatMap(statOf(reader, _)))
    finally reader.close()
  }

  /** Min/max of `column` across a parquet file's row groups, from the
    * footer only. None when the column is absent, its type is not a
    * supported key type (int32/int64/binary-utf8), or ANY row group
    * lacks statistics or holds nulls — a partial range must not claim to
    * cover the file. */
  private def statOf(
      reader: org.apache.parquet.hadoop.ParquetFileReader,
      column: String): Option[FileStat] = {
    import scala.jdk.CollectionConverters._
    {
      val chunks = reader.getFooter.getBlocks.asScala.flatMap(b =>
        b.getColumns.asScala.filter(_.getPath.toDotString == column))
      if (chunks.isEmpty) return None
      var minL = Long.MaxValue; var maxL = Long.MinValue
      var minS: String = null; var maxS: String = null
      var tpe: String = null
      var ok = true
      chunks.foreach { c =>
        val st = c.getStatistics
        if (st == null || !st.hasNonNullValue || st.getNumNulls != 0) ok = false
        else st match {
          case ls: org.apache.parquet.column.statistics.LongStatistics =>
            tpe = "long"
            minL = math.min(minL, ls.getMin); maxL = math.max(maxL, ls.getMax)
          case is: org.apache.parquet.column.statistics.IntStatistics =>
            tpe = "long"
            minL = math.min(minL, is.getMin.toLong)
            maxL = math.max(maxL, is.getMax.toLong)
          case bs: org.apache.parquet.column.statistics.BinaryStatistics =>
            tpe = "string"
            val mn = bs.genericGetMin.toStringUsingUTF8
            val mx = bs.genericGetMax.toStringUsingUTF8
            if (minS == null || mn < minS) minS = mn
            if (maxS == null || mx > maxS) maxS = mx
          case _ => ok = false
        }
      }
      if (!ok) None
      else if (tpe == "long") Some(FileStat("long", minL.toString, maxL.toString))
      else if (tpe == "string" && minS != null) Some(FileStat("string", minS, maxS))
      else None
    }
  }

  /** Directory of a store-relative file path — the grain conflicts are
    * detected at. The FULL parent path, so nested layouts (a dedup
    * store's `sigs/batch=3/part.parquet`) conflict at their leaf
    * partition dir, not at the top-level table dir; for the common
    * single-level hive layout this is identical to the top dir. None for
    * root-level files (flat stores), which only ever commit wholeStore. */
  private def dirKey(relPath: String): Option[String] = {
    val i = relPath.lastIndexOf('/')
    if (i <= 0) None else Some(relPath.substring(0, i))
  }

  /** Touched-set overlap is HIERARCHICAL: `sigs` overlaps `sigs/batch=3`
    * (a commit claiming a dir claims everything under it), equal entries
    * overlap (including [[SerialToken]]), [[WholeStore]] overlaps all.
    * For single-level layouts this reduces to plain set intersection. */
  private def conflicts(a: Set[String], b: Set[String]): Boolean =
    a.contains(WholeStore) || b.contains(WholeStore) ||
      a.exists(x => b.exists(y =>
        x == y || x.startsWith(y + "/") || y.startsWith(x + "/")))

  private def maybeCheckpoint(fs: FileSystem, store: Path, v: Long): Unit =
    if (v % CheckpointEvery == 0) {
      // best-effort (a crash here only lengthens the next replay); built
      // from the manifest chain, published with the same no-overwrite CAS.
      // The schema in force rides along so vacuuming the manifests that
      // recorded it can never lose it ([[schemaAt]] falls back here).
      val (files, rows) = replaySnapshot(fs, store, v)
      val schemaLine = schemaAt(fs, store, v)
        .map(s => s"schema\t${enc(s.json)}\n").getOrElse("")
      val consLine = {
        val cs = constraintsAt(fs, store, v)
        if (cs.isEmpty) "" else s"constraints\t${enc(encConstraints(cs))}\n"
      }
      val text = schemaLine + consLine + files.map {
        case (f, None) => s"file\t${enc(f)}\n"
        case (f, Some(s)) =>
          s"file\t${enc(f)}\t${enc(s.tpe)}\t${enc(s.min)}\t${enc(s.max)}\n"
      }.mkString + rows.toSeq.sortBy(_._1).map {
        case (f, n) => s"frows\t${enc(f)}\t$n\n"
      }.mkString + "end\n"
      val tmp = new Path(logDir(store),
        ".tmp-" + java.util.UUID.randomUUID().toString)
      writeFully(fs, tmp, text)
      casPublish(fs, tmp, new Path(logDir(store), checkpointName(v)))
      ()
    }

  /** Bring a store written by the retired staged-swap protocol under the
    * log, once: roll forward any swap its last legacy writer left half
    * done ([[Swap.recover]]), then publish a v1 manifest listing every
    * data file in the store as it stands. No data moves or is rewritten;
    * the operator that called adopt then commits on top of v1 as on any
    * log store. A no-op for log stores and fresh paths.
    *
    * An incremental-agg batch marker (`_graft_last_batch`, in the store
    * or as the older `<store>._graft_last_batch` sibling) becomes v1's
    * `batchId` meta, so the stream's replay guard survives adoption; the
    * sibling file is removed once v1 is published. An unreadable marker
    * fails loudly — which batches were applied is unknown.
    *
    * `configSidecar`: a `key=value`-per-line file in which the legacy
    * writer pinned the store's config (the admission stores' `<store>.meta`);
    * its entries become v1 meta — where the log layout keeps them — and
    * the file is removed once v1 is published. Adopt checks no layout: an
    * operator whose log layout differs from its legacy one refuses such a
    * store BEFORE calling adopt, so a refused store is left untouched. */
  def adopt(
      spark: SparkSession,
      store: Path,
      configSidecar: Option[Path] = None): Unit = {
    val fs = Swap.fsOf(spark, store)
    if (isLog(fs, store)) return
    Swap.recover(spark, store)
    if (!fs.exists(store)) return
    val inStore = new Path(store, IncrementalAgg.BatchMarker)
    val sibling = new Path(store.toString + "." + IncrementalAgg.BatchMarker)
    val marker = Seq(inStore, sibling).find(fs.exists)
    val batchMeta = marker.map { p =>
      val text = readFully(fs, p).trim
      val id = scala.util.Try(text.toLong).getOrElse(
        throw new IllegalStateException(
          s"unreadable batch marker $p (content: " +
            s"${if (text.isEmpty) "<empty>" else text}) — cannot tell which " +
            "batches are applied; rebuild the store or restore the marker"))
      "batchId" -> id.toString
    }.toMap
    val sidecar = configSidecar.filter(fs.exists)
    val configMeta = sidecar.toSeq.flatMap { p =>
      readFully(fs, p).split("\n").map(_.trim).filter(_.contains("="))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v }
    }.toMap
    val files = dataFilesUnder(fs, store, store)
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = files.filter(_.endsWith(".parquet"))
      .map(f => f -> fileFooterInfo(conf, new Path(store, f), None)._1).toMap
    val m = Manifest(1L, Set(WholeStore), files, Nil,
      configMeta ++ batchMeta + ("operation" -> "adopt"), fileRows = rows)
    fs.mkdirs(logDir(store))
    val tmp = new Path(logDir(store), ".tmp-" + java.util.UUID.randomUUID().toString)
    writeFully(fs, tmp, renderManifest(m))
    // a lost race means a concurrent caller adopted the same files
    casPublish(fs, tmp, new Path(logDir(store), manifestName(1L)))
    fs.delete(sibling, false)
    sidecar.foreach(fs.delete(_, false))
    ()
  }

  /** Latest manifest's meta map (empty when no commits) — e.g. the
    * incremental-agg batch high-water mark, committed atomically WITH
    * the data it describes because it rides the same manifest. */
  def tipMeta(fs: FileSystem, store: Path): Map[String, String] = {
    val v = currentVersion(fs, store)
    if (v == 0) Map.empty else readManifest(fs, store, v).meta
  }

  /** Most recent value of meta `key` walking back from the tip — for
    * high-water marks on stores OTHER writers also commit to (a
    * maintenance commit at the tip must not hide the mark). The walk is
    * bounded by the retained manifest chain: a vacuumed (unreadable)
    * manifest ends it. */
  def lastMeta(fs: FileSystem, store: Path, key: String): Option[String] = {
    var v = currentVersion(fs, store)
    while (v > 0) {
      val m =
        try readManifest(fs, store, v)
        catch { case _: java.io.FileNotFoundException => return None }
      m.meta.get(key) match {
        case some @ Some(_) => return some
        case None => v -= 1
      }
    }
    None
  }

  // ------------------------------------------------------------------ vacuum

  /** Physically delete what no retained version references: data files
    * removed at or before `tip - retainVersions`, manifests/checkpoints
    * older than needed to replay retained versions, stale `.tmp-*`
    * manifests, and orphan data files (staged by a crashed or conflicted
    * writer, never committed). Readers pinned within the retained window
    * are unaffected; older pins lose their files — that is the
    * retention contract, same as any table format's.
    *
    * Orphans (on disk but referenced by NO manifest) are only deleted
    * once older than `orphanGraceMs`: a LIVE writer between its staging
    * move-in and its manifest CAS looks exactly like a crashed one, and
    * vacuuming its files out from under it would corrupt the commit it
    * is about to publish. Files that WERE committed and then logically
    * removed carry no such ambiguity and are deleted on age of version,
    * not wall clock. Returns (dataFilesDeleted, logFilesDeleted). */
  def vacuum(
      spark: SparkSession,
      store: Path,
      retainVersions: Int = 2,
      orphanGraceMs: Long = 10L * 60 * 1000): (Int, Int) = {
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tip = currentVersion(fs, store)
    if (tip == 0) return (0, 0)
    val floor = math.max(1, tip - math.max(0, retainVersions - 1))
    // every file referenced by any retained version stays
    val live: Set[String] =
      (floor to tip).flatMap(v => snapshotFiles(fs, store, v)).toSet
    // everything any AVAILABLE log record ever referenced: committed
    // files (even since-removed ones) — distinguishes them from orphans
    val logNames = listLog(fs, store).map(_.getPath.getName)
    val oldestCkpt = {
      val cs = logNames.filter(_.endsWith(".checkpoint"))
        .map(_.stripSuffix(".checkpoint").toLong)
      if (cs.isEmpty) None else Some(cs.min)
    }
    val referenced: Set[String] = {
      val fromCkpt = oldestCkpt.toSeq.flatMap(c => snapshotFiles(fs, store, c))
      val fromManifests = logNames.filter(_.endsWith(".txt"))
        .map(_.stripSuffix(".txt").toLong)
        .flatMap(v => readManifest(fs, store, v).added)
      (fromCkpt ++ fromManifests).toSet
    }
    val now = System.currentTimeMillis()
    var dataDeleted = 0
    def sweep(d: Path, relPrefix: String): Unit =
      fs.listStatus(d).foreach { st =>
        val name = st.getPath.getName
        val rel = relPrefix + name
        if (name == LogDirName) ()
        else if (st.isDirectory) sweep(st.getPath, rel + "/")
        else if (isDataFile(name) && !live.contains(rel) &&
            (referenced.contains(rel) ||
              now - st.getModificationTime > orphanGraceMs)) {
          fs.delete(st.getPath, false); dataDeleted += 1
        }
      }
    sweep(store, "")
    // manifests strictly below the replay floor are unreachable once a
    // checkpoint at or below the floor covers them; keep it simple and
    // safe: drop manifests below the newest checkpoint ≤ floor, tmps always
    val names = listLog(fs, store).map(_.getPath.getName)
    val ckpts = names.filter(_.endsWith(".checkpoint"))
      .map(_.stripSuffix(".checkpoint").toLong).filter(_ <= floor)
    val replayBase = if (ckpts.isEmpty) 0L else ckpts.max
    var logDeleted = 0
    // bloom sidecars (bloom-v<N>.parquet dirs) describe exactly one
    // snapshot version; below the retain floor that snapshot is gone, so
    // the sidecar is dead weight — without this they accumulate one per
    // build() forever. Sidecar TEMP dirs get the same grace window as
    // orphan data files: a concurrent build's in-flight write must not
    // be deleted out from under it — only temps older than the grace
    // are abandoned.
    val BloomSidecar = """bloom-v(\d+)\.parquet""".r
    listLog(fs, store).foreach { st =>
      val n = st.getPath.getName
      val aged = now - st.getModificationTime > orphanGraceMs
      val (drop, recursive) = n match {
        case _ if n.startsWith(".tmp-") => (aged, false)
        case _ if n.contains(".parquet.tmp") => (aged, true)
        case BloomSidecar(v) => (v.toLong < floor, true)
        case _ if n.endsWith(".txt") =>
          (n.stripSuffix(".txt").toLong <= replayBase, false)
        case _ if n.endsWith(".checkpoint") =>
          (n.stripSuffix(".checkpoint").toLong < replayBase, false)
        case _ => (false, false)
      }
      if (drop) { fs.delete(new Path(logDir(store), n), recursive); logDeleted += 1 }
    }
    (dataDeleted, logDeleted)
  }
}
