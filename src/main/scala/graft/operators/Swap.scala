package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Staging names and the crash recovery of graft's retired staged-swap
  * protocol. Every store now commits through [[CommitLog]]; what stays
  * here is what that protocol still needs:
  *
  *  - the staging-name helpers writers stage under before a manifest
  *    commit ([[Suffix]] for a store root, [[Hidden]] for dirs staged
  *    next to a store's own dirs, [[newTag]], [[fsOf]]);
  *  - the roll-forward of a swap a legacy (pre-log) writer left half
  *    done, which [[CommitLog.adopt]] runs once before it publishes a
  *    legacy store's files as the log's first version ([[recover]]).
  *
  * The legacy protocol had two shapes. A WHOLE-DIR swap renamed
  * target→retired, then staging→target; a crash between the two renames
  * leaves the store path MISSING with a complete staging and a retired
  * copy ([[recoverWholeDir]] rolls it forward). A PARTITION-DIR swap
  * committed an intent marker ([[DirsMarker]]) inside its staging before
  * retiring the touched dirs; after the marker a crash rolls forward,
  * before it the staging is garbage ([[recoverDirs]]).
  */
object Swap {

  /** Intent marker inside a staged partition-dir swap: its presence
    * means "retire list is final, roll forward"; `_` prefix keeps it
    * invisible to parquet scans while staged dirs move into the store. */
  val DirsMarker = "_graft_swap_retire"

  def newTag(): String = java.util.UUID.randomUUID().toString.take(8)

  def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Roll forward every swap a legacy writer of `store` can have left
    * half done, once, before [[CommitLog.adopt]] lists the store's
    * files: whole-dir swaps of the store root ([[Suffix]] naming for
    * Merge/Scd2/IncrementalAgg, [[Hidden]] for compaction), partition-dir
    * swaps into the root, and one level down the swaps that targeted a
    * top-level dir (partition-dir swaps into an index's `data/`, whole-dir
    * compactions of an SCD2 slice). With the store missing, a lone
    * [[Suffix]] staging is a crashed first write: the path is fresh. */
  def recover(spark: SparkSession, store: Path): Unit = {
    val fs = fsOf(spark, store)
    recoverWholeDir(spark, store, Suffix, allowLoneStaging = true)
    recoverWholeDir(spark, store, Hidden, allowLoneStaging = false)
    if (!fs.exists(store)) return
    recoverDirs(spark, store, Suffix)
    // one listing names every top-level dir that has swap siblings
    val names = fs.listStatus(store).map(_.getPath.getName)
    val SuffixSibling = """(.+)\.(?:staging|old)-[^.]+""".r
    names.flatMap(Hidden.parse(_).map(_._2)).distinct.foreach { n =>
      recoverWholeDir(spark, new Path(store, n), Hidden, allowLoneStaging = false)
    }
    names.collect { case SuffixSibling(n) => n }.distinct
      .filter(n => fs.exists(new Path(store, n)))
      .foreach(n => recoverDirs(spark, new Path(store, n), Suffix))
  }

  /** Where the staged/retired siblings of a target live and what they
    * are called. */
  sealed trait Naming {
    def staging(target: Path, tag: String): Path
    def retired(target: Path, tag: String): Path
    /** Inverse: the tag, if `siblingName` is a staging (resp. retired)
      * sibling of `target`. */
    def stagingTag(target: Path, siblingName: String): Option[String]
    def retiredTag(target: Path, siblingName: String): Option[String]
  }

  /** `<target>.staging-<tag>` / `<target>.old-<tag>` — for store ROOTS
    * (the sibling sits outside the store, no reader ever lists it). */
  case object Suffix extends Naming {
    def staging(target: Path, tag: String) =
      new Path(target.toString + ".staging-" + tag)
    def retired(target: Path, tag: String) =
      new Path(target.toString + ".old-" + tag)
    def stagingTag(target: Path, n: String): Option[String] =
      if (n.startsWith(target.getName + ".staging-"))
        Some(n.stripPrefix(target.getName + ".staging-")) else None
    def retiredTag(target: Path, n: String): Option[String] =
      if (n.startsWith(target.getName + ".old-"))
        Some(n.stripPrefix(target.getName + ".old-")) else None
  }

  /** `.graft-staging-<tag>-<name>` / `.graft-old-<tag>-<name>` — for
    * PARTITION DIRS, staged inside the store root: the dot prefix hides
    * them from Spark/Hadoop reads and partition discovery, so a reader
    * concurrent with (or after a crash of) the swap never sees the
    * staged copy as a bogus partition holding duplicated rows. */
  case object Hidden extends Naming {
    def staging(target: Path, tag: String) =
      new Path(target.getParent, s".graft-staging-$tag-${target.getName}")
    def retired(target: Path, tag: String) =
      new Path(target.getParent, s".graft-old-$tag-${target.getName}")
    private def tagOf(n: String, prefix: String, target: Path): Option[String] =
      if (n.startsWith(prefix) && n.endsWith("-" + target.getName))
        Some(n.stripPrefix(prefix).stripSuffix("-" + target.getName))
      else None
    def stagingTag(target: Path, n: String): Option[String] =
      tagOf(n, ".graft-staging-", target)
    def retiredTag(target: Path, n: String): Option[String] =
      tagOf(n, ".graft-old-", target)

    /** Inverse without knowing the target: (tag, targetName) if
      * `siblingName` is ANY Hidden staging/retired sibling. Lives here —
      * not re-derived at call sites — so the name format (and the fact
      * that [[newTag]] is dash-free) stays in one place. */
    def parse(siblingName: String): Option[(String, String)] = {
      val prefix = Seq(".graft-staging-", ".graft-old-").find(siblingName.startsWith)
      prefix.flatMap { p =>
        siblingName.stripPrefix(p).split("-", 2) match {
          case Array(tag, targetName) if targetName.nonEmpty => Some((tag, targetName))
          case _ => None
        }
      }
    }
  }

  private def siblingNames(fs: FileSystem, target: Path): Array[String] = {
    val parent = target.getParent
    if (parent == null || !fs.exists(parent)) Array.empty
    else fs.listStatus(parent).map(_.getPath.getName)
  }

  /** Roll an interrupted whole-dir swap forward. A crash between
    * rename(target→retired) and rename(staging→target) leaves `target`
    * MISSING with the full rewrite staged (it was completely written
    * before the first rename) and the previous store retired. Treating
    * that as "no store" would read-fail — or worse, let a caller
    * silently rebuild from one batch and discard all history; completing
    * the rename loses nothing. Unknown provenance — retired leftovers
    * without exactly one completable staging — fails loudly instead of
    * guessing.
    *
    * @param allowLoneStaging a staging sibling with NO retired pair is a
    *   crash during a FIRST write (stores that stage even their first
    *   batch, e.g. IncrementalAgg committing data+marker in one rename):
    *   pass true to treat the store as genuinely fresh and let the
    *   caller rebuild. Stores whose first write is direct (no staging)
    *   pass false: a lone staging there is unknown provenance. */
  def recoverWholeDir(
      spark: SparkSession,
      target: Path,
      naming: Naming,
      allowLoneStaging: Boolean): Unit = {
    val fs = fsOf(spark, target)
    val siblings = siblingNames(fs, target)
    val stagings = siblings.flatMap(naming.stagingTag(target, _))
    val olds = siblings.flatMap(naming.retiredTag(target, _))
    // A staging carrying the PARTITION-swap intent marker belongs to
    // a partition-dir swap, not to any whole-dir swap: it is a live roll-forward
    // copy that recoverDirs must complete (partition swaps run against
    // an EXISTING target root, so "target exists + marker staging" is
    // that protocol's normal crash state). Never treat it — or its
    // retired pair — as stale here.
    val live = stagings.filter(t =>
      fs.exists(new Path(naming.staging(target, t), DirsMarker))).toSet
    if (fs.exists(target)) {
      // Target intact: every NON-live leftover of this target's naming
      // is stale — a retired copy whose swap completed (crash before
      // its delete) or an abandoned staging from a crashed rewrite
      // attempt. Clean them NOW: left in place, a later crash of a new
      // swap on the same target would see multiple retired dirs, fail
      // the exactly-one-completable-pair check below, and brick a
      // mechanically recoverable store. Callers create their own
      // staging only AFTER this recovery runs, so nothing else is live.
      (stagings.filterNot(live).map(naming.staging(target, _)) ++
        olds.filterNot(live).map(naming.retired(target, _)))
        .foreach(fs.delete(_, true))
      return
    }
    if (olds.isEmpty && (stagings.isEmpty || allowLoneStaging)) return
    // a live (marker) pair stages only a partition SUBSET — rolling it
    // forward as a whole-dir replacement would install that subset as
    // the entire store; exclude it so such a state fails loudly below
    val matched = olds.filter(t => stagings.contains(t) && !live(t))
    if (matched.length == 1) {
      val tag = matched.head
      if (!fs.rename(naming.staging(target, tag), target))
        throw new java.io.IOException(
          s"could not roll forward staged swap for $target")
      fs.delete(naming.retired(target, tag), true)
      // retired dirs without a staging pair belong to OLDER swaps that
      // completed (their staging became the target and was itself later
      // retired-and-replaced) — stale copies, drop them with the rest
      (stagings.filterNot(live).filterNot(_ == tag).map(naming.staging(target, _)) ++
        olds.filterNot(live).filterNot(_ == tag).map(naming.retired(target, _)))
        .foreach(fs.delete(_, true))
    } else {
      val oldNames = siblings.filter(n => naming.retiredTag(target, n).isDefined)
      throw new IllegalStateException(
        s"$target is missing but staged-swap leftovers exist (staging tags " +
          s"[${stagings.mkString(",")}], retired dirs [${oldNames.mkString(",")}]) " +
          "without exactly one completable pair — refusing to guess; rename " +
          "the retired dir back to the store path (or remove stale " +
          "leftovers) before resuming")
    }
  }

  private def readMarker(fs: FileSystem, staging: Path): Seq[String] = {
    val in = fs.open(new Path(staging, DirsMarker))
    val text =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        new String(buf.toByteArray, "UTF-8")
      } finally in.close()
    text.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
  }

  private def stagedDirs(fs: FileSystem, staging: Path): Array[Path] =
    fs.listStatus(staging).filter(_.isDirectory).map(_.getPath)

  /** Move every staged dir into the store. A dest that still exists is
    * an old leftover the retire list missed (e.g. a dir whose files hold
    * zero rows, invisible to the row scan that built the list) — and
    * Hadoop rename into an existing directory NESTS the source inside it
    * (pcol=v/pcol=v), silently corrupting the layout: retire survivors
    * first. Idempotent for recovery: staged dirs already moved are gone
    * from staging and skip themselves. */
  private def moveStagedIn(fs: FileSystem, target: Path, staging: Path, retired: Path): Unit =
    stagedDirs(fs, staging).foreach { s =>
      val dest = new Path(target, s.getName)
      if (fs.exists(dest) &&
          !fs.rename(dest, new Path(retired, dest.getName + ".leftover")))
        throw new java.io.IOException(
          s"could not retire leftover partition dir $dest (old partitions " +
            s"preserved in $retired; recovery will roll forward)")
      if (!fs.rename(s, dest))
        throw new java.io.IOException(
          s"could not swap $s into place (old partitions preserved in " +
            s"$retired; recovery will roll forward)")
    }

  /** Recover every interrupted partition-dir swap of `target`: a staging
    * sibling WITHOUT the intent marker is a pre-commit crash (the store
    * was never touched — discard it); one WITH the marker rolls forward
    * (idempotent: dirs already retired or already moved skip
    * themselves). */
  def recoverDirs(spark: SparkSession, target: Path, naming: Naming): Unit = {
    val fs = fsOf(spark, target)
    val siblings = siblingNames(fs, target)
    siblings.flatMap(naming.stagingTag(target, _)).foreach { tag =>
      val staging = naming.staging(target, tag)
      val retired = naming.retired(target, tag)
      if (!fs.exists(new Path(staging, DirsMarker))) {
        // pre-commit: staging may be half-written, target is intact
        fs.delete(staging, true)
        fs.delete(retired, true)
      } else {
        val retireNames = readMarker(fs, staging)
        fs.mkdirs(retired)
        retireNames.foreach { n =>
          val d = new Path(target, n)
          // a dir both present in target AND already in retired was
          // already swapped (target holds the NEW copy) — leave it
          if (fs.exists(d) && !fs.exists(new Path(retired, n)) &&
              !fs.rename(d, new Path(retired, n)))
            throw new java.io.IOException(s"recovery could not retire $d")
        }
        moveStagedIn(fs, target, staging, retired)
        fs.delete(staging, true)
        fs.delete(retired, true)
      }
    }
    // orphaned retired dirs whose staging is gone: the swap COMPLETED
    // through its staging delete and crashed before the retired delete —
    // everything it holds was replaced; drop it
    siblings.flatMap(naming.retiredTag(target, _)).foreach { tag =>
      if (!fs.exists(naming.staging(target, tag)))
        fs.delete(naming.retired(target, tag), true)
    }
  }
}
