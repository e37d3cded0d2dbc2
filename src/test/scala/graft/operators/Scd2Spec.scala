package graft.operators

import java.nio.file.Files

import graft.flow.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class Scd2Spec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshStore(): String =
    Files.createTempDirectory("graft_scd2").toString + "/dim"

  // replaced files stay on disk until vacuum: check the committed
  // snapshot, not the directory listing
  private def liveFiles(path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = Swap.fsOf(spark, p)
    CommitLog.snapshotFiles(fs, p, CommitLog.currentVersion(fs, p))
  }

  test("first batch creates open versions; changes close and re-open; " +
    "unchanged and absent keys are untouched") {
    val path = freshStore()
    val b1 = Seq((1L, "acme", "NY"), (2L, "zenith", "SF"), (3L, "nimbus", "LA"))
      .toDF("id", "name", "city")
    Scd2.apply(spark, path, b1, "id", "2024-01-01 00:00:00")

    // batch 2: key 1 changes city, key 2 unchanged, key 3 absent, key 4 new
    val b2 = Seq((1L, "acme", "BOS"), (2L, "zenith", "SF"), (4L, "vertex", "SEA"))
      .toDF("id", "name", "city")
    val out = Scd2.apply(spark, path, b2, "id", "2024-02-01 00:00:00")

    val current = out.filter($"is_current")
      .select("id", "city").as[(Long, String)].collect().toMap
    assert(current == Map(1L -> "BOS", 2L -> "SF", 3L -> "LA", 4L -> "SEA"))

    // key 1 history: closed NY version with valid_to = batch-2 ts
    val v1 = out.filter($"id" === 1L).orderBy("valid_from")
      .select("city", "valid_to", "is_current")
      .as[(String, Option[java.sql.Timestamp], Boolean)].collect()
    assert(v1.length == 2)
    assert(v1(0) == (("NY", Some(java.sql.Timestamp.valueOf("2024-02-01 00:00:00")), false)))
    assert(v1(1)._1 == "BOS" && v1(1)._2.isEmpty && v1(1)._3)

    // unchanged key 2 has exactly ONE version (no churn)
    assert(out.filter($"id" === 2L).count() == 1)
  }

  test("re-applying the same batch is a no-op (idempotent on unchanged attrs)") {
    val path = freshStore()
    val b = Seq((1L, "acme")).toDF("id", "name")
    Scd2.apply(spark, path, b, "id", "2024-01-01 00:00:00")
    val out = Scd2.apply(spark, path, b, "id", "2024-03-01 00:00:00")
    assert(out.count() == 1)
    assert(out.filter($"is_current").count() == 1)
  }

  test("null-safe change detection: NULL → value counts as a change") {
    val path = freshStore()
    Scd2.apply(spark, path,
      Seq((1L, Option.empty[String])).toDF("id", "name"), "id", "2024-01-01 00:00:00")
    val out = Scd2.apply(spark, path,
      Seq((1L, Option("acme"))).toDF("id", "name"), "id", "2024-02-01 00:00:00")
    assert(out.count() == 2)
    assert(out.filter($"is_current").select("name").as[String].head() == "acme")
  }

  test("NULL natural key matches null-safely: repeated batches never " +
    "accumulate duplicate open versions") {
    val path = freshStore()
    val b1 = Seq((Option(1L), "a"), (Option.empty[Long], "n1")).toDF("id", "name")
    Scd2.apply(spark, path, b1, "id", "2024-01-01 00:00:00")
    // batch 2 repeats the NULL-key row verbatim → no churn (with a plain
    // `=` join the NULL key never matches and every batch appends a dup)
    val out2 = Scd2.apply(spark, path, b1, "id", "2024-02-01 00:00:00")
    assert(out2.filter($"id".isNull).count() == 1)
    assert(out2.filter($"id".isNull && $"is_current").count() == 1)
    // batch 3 changes the NULL key's attribute → close + reopen
    val out3 = Scd2.apply(spark, path,
      Seq((Option.empty[Long], "n2")).toDF("id", "name"), "id", "2024-03-01 00:00:00")
    val vers = out3.filter($"id".isNull).orderBy("valid_from")
      .select("name", "is_current").as[(String, Boolean)].collect().toSeq
    assert(vers == Seq(("n1", false), ("n2", true)))
  }

  test("trickle batch rewrites only the open slice and its month's closed " +
    "slice; older history dirs are untouched on disk") {
    val path = freshStore()
    Scd2.apply(spark, path,
      Seq((1L, "v1"), (2L, "w1")).toDF("id", "v"), "id", "2024-01-01 00:00:00")
    // closes key 1 → its old version lands in slice c2024-02
    Scd2.apply(spark, path,
      Seq((1L, "v2")).toDF("id", "v"), "id", "2024-02-01 00:00:00")
    val histDir = new java.io.File(path, s"${Scd2.SliceCol}=c2024-02")
    assert(histDir.isDirectory, "closed slice dir missing")
    def snap(d: java.io.File): Set[(String, Long)] =
      d.listFiles().map(f => (f.getName, f.lastModified())).toSet
    val before = snap(histDir)
    // a later-month batch must not touch the February history slice
    val out = Scd2.apply(spark, path,
      Seq((2L, "w2")).toDF("id", "v"), "id", "2024-03-15 00:00:00")
    assert(snap(histDir) == before,
      "untouched history slice was rewritten by a trickle batch")
    assert(out.count() == 4)
    val current = out.filter($"is_current")
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(current == Map(1L -> "v2", 2L -> "w2"))
  }

  test("legacy flat store (pre-slice layout) is migrated on first apply") {
    val path = freshStore()
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    Seq(
      (1L, "old", t1, Option(t2), false),
      (1L, "new", t2, Option.empty[java.sql.Timestamp], true))
      .toDF("id", "v", "valid_from", "valid_to", "is_current")
      .write.parquet(path)
    val out = Scd2.apply(spark, path,
      Seq((2L, "x")).toDF("id", "v"), "id", "2024-03-01 00:00:00")
    assert(out.count() == 3)
    assert(out.filter($"is_current").count() == 2)
    val dirs = liveFiles(path).map(_.takeWhile(_ != '/')).toSet
    // the legacy closed version (valid_to 2024-02-01) lands in c2024-02
    assert(dirs == Set(s"${Scd2.SliceCol}=open", s"${Scd2.SliceCol}=c2024-02"),
      s"unexpected slice layout: $dirs")
    // full history preserved through the migration
    assert(out.filter($"id" === 1L).count() == 2)
  }

  test("asOf returns the version valid at a point in time") {
    val path = freshStore()
    Scd2.apply(spark, path, Seq((1L, "v1")).toDF("id", "v"), "id", "2024-01-01 00:00:00")
    Scd2.apply(spark, path, Seq((1L, "v2")).toDF("id", "v"), "id", "2024-02-01 00:00:00")
    Scd2.apply(spark, path, Seq((1L, "v3")).toDF("id", "v"), "id", "2024-03-01 00:00:00")
    val store = CommitLog.read(spark, new org.apache.hadoop.fs.Path(path)).get
    assert(Scd2.asOf(store, "2024-01-15 00:00:00").select("v").as[String].head() == "v1")
    assert(Scd2.asOf(store, "2024-02-15 00:00:00").select("v").as[String].head() == "v2")
    // exactly at a boundary the NEW version wins (valid_to exclusive)
    assert(Scd2.asOf(store, "2024-02-01 00:00:00").select("v").as[String].head() == "v2")
    assert(Scd2.asOf(store, "2024-09-01 00:00:00").select("v").as[String].head() == "v3")
  }

  test("asOfStore prunes history slices closed before the lookup month " +
    "and still answers every point in time correctly") {
    val path = freshStore()
    Scd2.apply(spark, path, Seq((1L, "v1")).toDF("id", "v"), "id", "2024-01-01 00:00:00")
    Scd2.apply(spark, path, Seq((1L, "v2")).toDF("id", "v"), "id", "2024-02-01 00:00:00")
    Scd2.apply(spark, path, Seq((1L, "v3")).toDF("id", "v"), "id", "2024-03-01 00:00:00")
    // same answers as the unpruned asOf at every probe point
    for ((ts, want) <- Seq(
        "2024-01-15 00:00:00" -> "v1",
        "2024-02-15 00:00:00" -> "v2",
        "2024-02-01 00:00:00" -> "v2",
        "2024-09-01 00:00:00" -> "v3")) {
      assert(Scd2.asOfStore(spark, path, ts).select("v").as[String].head() == want,
        s"asOfStore($ts)")
    }
    // a recent lookup must not read the old closed slices: the c2024-02
    // slice (v1, closed 2024-02-01) is pruned from the 2024-09 scan
    val files = Scd2.asOfStore(spark, path, "2024-09-01 00:00:00")
      .select(input_file_name().as("f")).distinct().as[String].collect()
    assert(files.nonEmpty)
    assert(!files.exists(_.contains("c2024-02")),
      s"history slice scanned by a recent point-in-time lookup: ${files.mkString(", ")}")
  }

  test("a crash inside maintain()'s slice compaction (between the swap's " +
    "two renames) recovers on the next read instead of bricking the store") {
    // a legacy (pre-log) sliced store: the snapshot files of a log store
    // copied out without the log
    val built = freshStore()
    Scd2.apply(spark, built, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      "id", "2024-01-01 00:00:00")
    Scd2.apply(spark, built, Seq((1L, "a2")).toDF("id", "v"),
      "id", "2024-02-01 00:00:00")
    val before = Scd2.read(spark, built).orderBy("id", "valid_from").collect().toSeq
    val path = freshStore()
    val builtRoot = new org.apache.hadoop.fs.Path(built)
    liveFiles(built).foreach { f =>
      org.apache.hadoop.fs.FileUtil.copy(Swap.fsOf(spark, builtRoot),
        new org.apache.hadoop.fs.Path(builtRoot, f), Swap.fsOf(spark, builtRoot),
        new org.apache.hadoop.fs.Path(path, f), false,
        spark.sparkContext.hadoopConfiguration)
    }

    // simulate the legacy slice compaction crashing between rename(open → retired) and
    // rename(staging → open): the open slice dir is MISSING, its old
    // copy retired and its rewrite fully staged under Hidden naming
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val open = new org.apache.hadoop.fs.Path(root, Scd2.SliceCol + "=" + Scd2.OpenSlice)
    val retired = new org.apache.hadoop.fs.Path(root,
      s".graft-old-t1-${Scd2.SliceCol}=${Scd2.OpenSlice}")
    val staging = new org.apache.hadoop.fs.Path(root,
      s".graft-staging-t1-${Scd2.SliceCol}=${Scd2.OpenSlice}")
    assert(fs.rename(open, retired))
    org.apache.hadoop.fs.FileUtil.copy(fs, retired, fs, staging, false, false,
      spark.sparkContext.hadoopConfiguration)

    // adopting the store rolls the slice swap forward first; without
    // slice-dir recovery this threw "no graft_slice=open dir"
    val after = Scd2.read(spark, path).orderBy("id", "valid_from").collect().toSeq
    assert(after == before, "recovered store content changed")
    assert(fs.exists(open) && !fs.exists(staging) && !fs.exists(retired))
  }

  test("maintain compacts the small files trickle batches leave in hot " +
    "slice dirs, preserving content exactly") {
    val path = freshStore()
    // a hot slice fragments through WRITE PARALLELISM: a real rewrite
    // fans out over every shuffle partition, each task leaving one small
    // file. AQE coalesces that away on fixture-sized data, so pin the
    // pre-AQE shape the way a loaded cluster would produce it.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
      for (i <- 1 to 3) {
        Scd2.apply(spark, path,
          (1 to 40).map(k => (k.toLong, s"v$i-$k")).toDF("id", "v"), "id",
          f"2024-01-${i * 2}%02d 00:00:00")
      }
    } finally spark.conf.set(coalesceKey, prev)
    val before = Scd2.read(spark, path).orderBy("id", "valid_from")
      .collect().toSeq
    def openFiles() = liveFiles(path)
      .count(_.startsWith(Scd2.SliceCol + "=" + Scd2.OpenSlice + "/"))
    val filesBefore = openFiles()
    val stats = Scd2.maintain(spark, path, maxFilesPerDir = 2)
    assert(stats.nonEmpty, "expected the open slice to compact")
    assert(openFiles() < filesBefore,
      s"open slice still has ${openFiles()} files (was $filesBefore)")
    val after = Scd2.read(spark, path).orderBy("id", "valid_from")
      .collect().toSeq
    assert(after == before, "maintain changed store content")
    // still writable and readable after compaction
    Scd2.apply(spark, path, Seq((1L, "v1b")).toDF("id", "v"), "id",
      "2024-02-01 00:00:00")
    // 3 loop versions + the post-compaction change
    assert(Scd2.read(spark, path).filter($"id" === 1L).count() == 4)
    assert(Scd2.read(spark, path)
      .filter($"id" === 1L && $"is_current").select("v").as[String]
      .head() == "v1b")
  }
}
