package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BloomBridge

/** Per-FILE bloom-filter index on a commit-log store — the point-lookup
  * accelerator for columns the layout does NOT sort by (Delta's bloom
  * filter index role).
  *
  * Manifest min/max stats prune range reads on the clustered column;
  * a point lookup on any OTHER high-cardinality column (a user id in an
  * event store laid out by time) overlaps every file's range and prunes
  * nothing. A bloom sidecar fixes that: one sketch of the lookup
  * column's values PER FILE, built in one scan (group by
  * `input_file_name`, Spark's own bloom aggregate), stored next to the
  * log keyed to the exact snapshot version it describes. A lookup probes
  * each file's sketch driver-side and scans only the files that might
  * contain the key — at 100 TB, a handful of files instead of all of
  * them, decided without opening a single footer.
  *
  * Correctness is conservative in both directions:
  *  - bloom false positives only ADD scanned files (the real filter
  *    still runs on the scan);
  *  - files NOT covered by the sidecar — anything committed after the
  *    index was built, or a store with no index at all — are always
  *    scanned. A stale index degrades to a smaller prune, never to a
  *    wrong answer; `bloomLookup` therefore equals the plain filter
  *    unconditionally (q_bloom_lookup's oracle is exactly that SQL).
  *
  * The sidecar write is atomic (temp + rename) and versioned by file
  * name, so concurrent store commits never observe a half-written
  * index; rebuilding after appends is the caller's policy call (the
  * natural moment is post-compaction, when file identities change
  * anyway).
  */
object BloomIndex {

  private def sidecar(store: Path, v: Long): Path =
    new Path(CommitLog.logDir(store), s"bloom-v$v.parquet")

  /** Build the sidecar for the CURRENT snapshot: one bloom of
    * `keyCol`'s xxhash64 values per data file. Returns the indexed
    * version. Driver memory: numBits/8 bytes per file (the same bounded
    * envelope a broadcast side gets). */
  def build(
      spark: SparkSession,
      targetPath: String,
      keyCol: String,
      expectedItemsPerFile: Long = 1000000L,
      numBits: Long = 8000000L): Long = {
    val store = new Path(targetPath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitLog.adopt(spark, store)
    require(CommitLog.isLog(fs, store), s"bloom index target $targetPath does not exist")
    val v = CommitLog.currentVersion(fs, store)
    val snapshot = CommitLog.read(spark, store, Some(v)).getOrElse(return v)
    val storeUri = fs.makeQualified(store).toUri.getPath
    val perFile = snapshot
      .groupBy(input_file_name().as("graft_file"))
      .agg(BloomBridge.bloomAggregate(col(keyCol),
        expectedItemsPerFile, numBits).as("graft_bloom"))
    // a file whose keys are ALL null aggregates a null sketch — leave it
    // out of the sidecar so lookups scan it conservatively
    val rows = perFile.collect().flatMap { r =>
      Option(r.getAs[Array[Byte]](1)).map { bloom =>
        val rel = new Path(new java.net.URI(r.getString(0))).toUri.getPath
          .stripPrefix(storeUri).stripPrefix("/")
        (rel, bloom)
      }
    }
    val out = sidecar(store, v)
    val tmpOut = new Path(out.getParent, out.getName + ".tmp" + Swap.newTag())
    import spark.implicits._
    rows.toSeq.toDF("file", "bloom").coalesce(1)
      .write.mode("overwrite").parquet(tmpOut.toString)
    fs.delete(out, true)
    if (!fs.rename(tmpOut, out))
      throw new java.io.IOException(s"could not publish bloom sidecar $out")
    v
  }

  /** Point/IN lookup: `keyCol IN (values)` over the current snapshot,
    * scanning only files the sidecar cannot rule out. Equals the plain
    * filter unconditionally (missing/stale index ⇒ smaller or no prune,
    * never a miss). */
  def lookup(
      spark: SparkSession,
      targetPath: String,
      keyCol: String,
      values: Seq[Any]): DataFrame = {
    require(values.nonEmpty, "lookup needs at least one value")
    val store = new Path(targetPath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = CommitLog.currentVersion(fs, store)
    val pred = col(keyCol).isin(values: _*)
    val empty = lookupMiss(spark, store, v)
    val toScan = scanSet(spark, fs, store, v, keyCol, values)
    CommitLog.readFilesAt(spark, store, v, toScan)
      .fold(empty)(_.filter(pred))
  }

  /** Pruned-file count for a hypothetical lookup — exposed so specs and
    * operators can ASSERT the prune ratio instead of trusting it. */
  def filesScanned(
      spark: SparkSession,
      targetPath: String,
      keyCol: String,
      values: Seq[Any]): Int = {
    val store = new Path(targetPath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = CommitLog.currentVersion(fs, store)
    scanSet(spark, fs, store, v, keyCol, values).size
  }

  /** Files a lookup on `keyCol IN values` must scan at version `v`.
    *
    * Probe values are resolved to the indexed column's DataType from the
    * recorded schema before hashing — xxhash64 is type-sensitive, and an
    * Int probe of a LongType column would otherwise hash differently and
    * silently prune files that DO contain the key. A value that cannot
    * be resolved (uncastable, or no recorded schema/column) disables
    * pruning for the whole lookup: conservative, never a miss. Each
    * file's sketch is deserialized once and probed with the precomputed
    * hash set. */
  private def scanSet(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      store: Path,
      v: Long,
      keyCol: String,
      values: Seq[Any]): Seq[String] = {
    val files = CommitLog.snapshotFiles(fs, store, v)
    val side = sidecar(store, v)
    if (!fs.exists(side)) return files
    val colType = CommitLog.schemaAt(fs, store, v)
      .flatMap(_.fields.find(_.name == keyCol)).map(_.dataType)
    val hashes: Option[Seq[Long]] = colType.flatMap { dt =>
      val hs = values.map(BloomBridge.hashForType(_, dt))
      if (hs.forall(_.isDefined)) Some(hs.flatten) else None
    }
    hashes match {
      case None =>
        // cannot hash as the column's type (no recorded schema, column
        // missing, or uncastable probe): scan everything. Loud, not
        // silent — a dead index on a schema-less store looks exactly
        // like a working one otherwise.
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"bloom index on $store: probe values for '$keyCol' could not " +
            "be resolved to the recorded column type " +
            s"(schema ${if (colType.isEmpty) "missing" else "mismatch"}); " +
            "pruning disabled for this lookup")
        files
      case Some(hs) =>
        val indexed = spark.read.parquet(side.toString).collect()
          .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
        files.filter { f =>
          indexed.get(f) match {
            case Some(bytes) =>
              val bf = BloomBridge.deserialize(bytes)
              hs.exists(bf.mightContainLong)
            case None => true // not covered by the index: must scan
          }
        }
    }
  }

  private def lookupMiss(spark: SparkSession, store: Path, v: Long): DataFrame = {
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schema = CommitLog.schemaAt(fs, store, v).getOrElse(
      org.apache.spark.sql.types.StructType(Nil))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }
}
