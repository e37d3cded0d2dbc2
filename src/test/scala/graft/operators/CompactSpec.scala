package graft.operators

import graft.flow.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CompactSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // a compacted store's replaced files stay on disk until vacuum: once
  // compaction has put a store under the log, read its snapshot
  private def read(path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (CommitLog.isLog(Swap.fsOf(spark, p), p)) CommitLog.read(spark, p).get
    else spark.read.parquet(path)
  }

  // order-insensitive content fingerprint; bit_xor can't overflow where
  // an ANSI sum of full-range hashes would
  private def contentHash(path: String): Long =
    read(path)
      .agg(expr("bit_xor(xxhash64(k, v))")).head().getLong(0)

  test("compactStore on a store that was never created is a no-op, not " +
    "a FileNotFoundException — an all-empty-batch stream's maintenance " +
    "tick must not crash-loop") {
    val missing = tmp("graft_compact_missing") + "/never_written"
    assert(Compact.compactLogStore(spark, missing, "slice").isEmpty)
    assert(Scd2.maintain(spark, missing + "/dim").isEmpty)
  }

  test("compactDir folds many small files into few, preserving every row") {
    val dir = tmp("graft_compact") + "/d"
    (1 to 2000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartition(40).write.parquet(dir)
    val before = contentHash(dir)
    val stats = Compact.compactDir(spark, dir, targetFileBytes = 1L << 30)
    assert(stats.filesBefore == 40 && stats.filesAfter == 1, stats)
    assert(stats.rows == 2000)
    assert(contentHash(dir) == before)
  }

  test("compactDir is a no-op when the dir already meets the target " +
    "(file identity preserved)") {
    val dir = tmp("graft_compact_noop") + "/d"
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .coalesce(1).write.parquet(dir)
    def names = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val beforeNames = names
    val stats = Compact.compactDir(spark, dir, targetFileBytes = 1L << 30)
    assert(stats.filesBefore == stats.filesAfter)
    assert(names == beforeNames) // not rewritten, same physical files
  }

  test("an interrupted swap rolls forward: missing store + matched " +
    ".old/.staging pair completes the rename, losing nothing") {
    val base = tmp("graft_compact_crash")
    val dir = base + "/d"
    (1 to 500).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .coalesce(1).write.parquet(dir)
    val want = contentHash(dir)
    // simulate the crash window: target retired, staging complete
    val f = new java.io.File(dir)
    assert(f.renameTo(new java.io.File(base + "/.graft-old-deadbeef-d")))
    (1 to 500).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .coalesce(1).write.parquet(base + "/.graft-staging-deadbeef-d")
    val stats = Compact.compactDir(spark, dir, targetFileBytes = 1L << 30)
    assert(stats.rows == 500)
    assert(contentHash(dir) == want)
    assert(!new java.io.File(base + "/.graft-old-deadbeef-d").exists())
    assert(!new java.io.File(base + "/.graft-staging-deadbeef-d").exists())
  }

  test("a missing store with UNMATCHED leftovers fails loudly instead " +
    "of guessing") {
    val base = tmp("graft_compact_orphan")
    val dir = base + "/d"
    // retired files but no staging: unknown provenance
    (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .coalesce(1).write.parquet(base + "/.graft-old-cafe0001-d")
    val e = intercept[IllegalStateException] {
      Compact.compactDir(spark, dir)
    }
    assert(e.getMessage.contains("refusing to guess"), e.getMessage)
  }

  test("crash leftovers inside a partitioned store root are invisible " +
    "to readers: no duplicate rows, no bogus partitions") {
    val store = tmp("graft_compact_hidden") + "/s"
    (1 to 100).map(i => (i.toLong, s"v$i", "hot")).toDF("k", "v", "p")
      .repartition(4).write.partitionBy("p").parquet(store)
    val before = spark.read.parquet(store).count()
    // a crashed partition compaction leaves its staged COPY of p=hot
    // inside the store root — dot-prefixed, so Spark must skip it
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .coalesce(1).write.parquet(s"$store/.graft-staging-feed0001-p=hot")
    assert(spark.read.parquet(store).count() == before) // not doubled
    assert(spark.read.parquet(store).select("p").distinct().count() == 1)
    // and compactStore never treats the leftover as a partition
    val stats = Compact.compactLogStore(spark, store, "p",
      targetFileBytes = 1L << 30, maxFilesPerDir = 999)
    assert(stats.isEmpty, stats)
  }

  test("compactStore rewrites only partitions over the file cap; " +
    "cold partitions keep their physical files") {
    val store = tmp("graft_compact_store") + "/s"
    // hot partition: 20 trickle files; cold: 2
    (1 to 1000).map(i => (i.toLong, s"v$i", "hot")).toDF("k", "v", "p")
      .repartition(20).write.partitionBy("p").mode("append").parquet(store)
    (1 to 50).map(i => ((i + 10000).toLong, s"w$i", "cold")).toDF("k", "v", "p")
      .repartition(2).write.partitionBy("p").mode("append").parquet(store)
    def files(p: String) = new java.io.File(s"$store/p=$p").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSet
    val coldBefore = files("cold")
    val totalBefore = read(store).count()
    val hashBefore = read(store)
      .agg(expr("bit_xor(xxhash64(k, v, p))")).head().getLong(0)

    val stats = Compact.compactLogStore(spark, store, "p",
      targetFileBytes = 1L << 30, maxFilesPerDir = 8)

    assert(stats.keySet == Set("p=hot"), stats) // cold under the cap
    assert(stats("p=hot").filesBefore == 20 && stats("p=hot").filesAfter == 1)
    assert(files("cold") == coldBefore) // untouched, same names + mtimes
    assert(read(store).count() == totalBefore)
    assert(read(store)
      .agg(expr("bit_xor(xxhash64(k, v, p))")).head().getLong(0)
      == hashBefore)
  }
}
