package graft.operators

import java.nio.file.Files

import graft.flow.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MergeSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshStore(): String =
    Files.createTempDirectory("graft_merge").toString + "/t"

  // replaced files stay on disk until vacuum: check the committed
  // snapshot, not the directory listing
  private def read(path: String) =
    CommitLog.read(spark, new org.apache.hadoop.fs.Path(path)).get
  private def liveFiles(path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = Swap.fsOf(spark, p)
    CommitLog.snapshotFiles(fs, p, CommitLog.currentVersion(fs, p))
  }
  private def liveDirs(path: String): Set[String] =
    liveFiles(path).filter(_.contains('/')).map(_.takeWhile(_ != '/')).toSet

  test("merge into a missing store degenerates to insert-all") {
    val path = freshStore()
    val src = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val out = Merge.into(spark, path, src, Seq("k"))
    assert(out.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("matched rows update, unmatched insert, untouched rows survive") {
    val path = freshStore()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").write.parquet(path)
    val src = Seq((2L, "B2"), (9L, "i")).toDF("k", "v")
    val out = Merge.into(spark, path, src, Seq("k")).as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a"), (2L, "B2"), (3L, "c"), (9L, "i")))
    // the store itself holds the merged state (not just the returned frame)
    assert(read(path).count() == 4)
  }

  test("merging the same source twice is idempotent") {
    val path = freshStore()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(path)
    val src = Seq((1L, "A"), (5L, "e")).toDF("k", "v")
    val r1 = Merge.into(spark, path, src, Seq("k")).as[(Long, String)].collect().toSet
    val r2 = Merge.into(spark, path, src, Seq("k")).as[(Long, String)].collect().toSet
    assert(r1 == r2)
    assert(r2 == Set((1L, "A"), (2L, "b"), (5L, "e")))
  }

  test("sequential batches compose: batch 2 updates a row batch 1 inserted") {
    val path = freshStore()
    Seq((1L, "a")).toDF("k", "v").write.parquet(path)
    Merge.into(spark, path, Seq((7L, "first")).toDF("k", "v"), Seq("k"))
    val out = Merge.into(spark, path, Seq((7L, "second")).toDF("k", "v"), Seq("k"))
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a"), (7L, "second")))
  }

  test("a source with duplicate keys is rejected (SQL MERGE multi-match rule)") {
    val path = freshStore()
    Seq((1L, "a")).toDF("k", "v").write.parquet(path)
    val dup = Seq((1L, "x"), (1L, "y")).toDF("k", "v")
    intercept[IllegalArgumentException] { Merge.into(spark, path, dup, Seq("k")) }
  }

  test("schema mismatch is rejected") {
    val path = freshStore()
    Seq((1L, "a")).toDF("k", "v").write.parquet(path)
    val bad = Seq((1L, "x", 0.0)).toDF("k", "v", "extra")
    intercept[IllegalArgumentException] { Merge.into(spark, path, bad, Seq("k")) }
  }

  test("schema evolution: new source columns append; old rows read NULL") {
    val path = freshStore()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(path)
    val evolved = Seq((2L, "B2", 0.9), (3L, "c", 0.5)).toDF("k", "v", "score")
    // without the flag the new column is rejected
    intercept[IllegalArgumentException] { Merge.into(spark, path, evolved, Seq("k")) }
    val out = Merge.into(spark, path, evolved, Seq("k"), evolveSchema = true)
      .select("k", "v", "score")
      .as[(Long, String, Option[Double])].collect().toSet
    assert(out == Set(
      (1L, "a", None),        // untouched row: NULL for the new column
      (2L, "B2", Some(0.9)),  // updated row carries it
      (3L, "c", Some(0.5))))  // inserted row carries it
    // dropping columns is never allowed
    val dropped = Seq((9L, 1.0)).toDF("k", "score")
    intercept[IllegalArgumentException] {
      Merge.into(spark, path, dropped, Seq("k"), evolveSchema = true)
    }
  }

  test("partition-scoped merge rewrites only touched partitions") {
    val path = freshStore()
    Seq((1L, "p1", "a"), (2L, "p1", "b"), (3L, "p2", "c"))
      .toDF("k", "part", "v").write.partitionBy("part").parquet(path)

    val untouchedDir = new java.io.File(path, "part=p2")
    val before = untouchedDir.listFiles().map(f => f.getName -> f.lastModified()).toMap

    val src = Seq((2L, "p1", "B2"), (4L, "p1", "d")).toDF("k", "part", "v")
    val out = Merge.into(spark, path, src, Seq("k"), prunePartitions = Some("part"))
      .select("k", "part", "v").as[(Long, String, String)].collect().toSet
    assert(out == Set(
      (1L, "p1", "a"), (2L, "p1", "B2"), (4L, "p1", "d"), (3L, "p2", "c")))

    val after = untouchedDir.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(after == before, "untouched partition was rewritten")
  }

  test("partition-scoped merge removes a matched key from its OLD partition " +
    "when the partition value moved") {
    val path = freshStore()
    Seq((1L, "p1", "a"), (2L, "p2", "b"), (3L, "p2", "c"))
      .toDF("k", "part", "v").write.partitionBy("part").parquet(path)
    // key 2 moves p2 → p1; the source itself never mentions p2, but p2
    // must still be rewritten or key 2 ends up duplicated across partitions
    val src = Seq((2L, "p1", "B2")).toDF("k", "part", "v")
    val out = Merge.into(spark, path, src, Seq("k"), prunePartitions = Some("part"))
      .select("k", "part", "v").as[(Long, String, String)].collect().toSet
    assert(out == Set((1L, "p1", "a"), (2L, "p1", "B2"), (3L, "p2", "c")))
    assert(read(path).filter($"k" === 2L).count() == 1,
      "moved key duplicated across partitions")
  }

  test("partition-scoped merge clears a touched partition left with no rows") {
    val path = freshStore()
    Seq((1L, "p1", "a"), (2L, "p2", "b"))
      .toDF("k", "part", "v").write.partitionBy("part").parquet(path)
    // key 2 is p2's ONLY row and moves to p1: p2's output is empty, so
    // dynamic overwrite alone would leave its stale files in place
    val src = Seq((2L, "p1", "B2")).toDF("k", "part", "v")
    val out = Merge.into(spark, path, src, Seq("k"), prunePartitions = Some("part"))
      .select("k", "part", "v").as[(Long, String, String)].collect().toSet
    assert(out == Set((1L, "p1", "a"), (2L, "p1", "B2")))
    assert(!liveDirs(path).contains("part=p2"),
      "emptied partition directory survived the merge")
  }

  test("partition-scoped merge handles a DATE partition column whose " +
    "emptied partition must be cleared") {
    val path = freshStore()
    // A date's on-disk dir is "day=2024-01-01"; reconstructing it from
    // java.sql.Date.toString happens to match, but Timestamp.toString
    // ("2024-01-01 00:00:00.0") never does — both types go through the
    // same listing-based dir discovery now. Date case first:
    Seq((1L, "2024-01-01", "a"), (2L, "2024-01-02", "b"))
      .toDF("k", "day", "v").withColumn("day", $"day".cast("date"))
      .write.partitionBy("day").parquet(path)
    // key 2 is day 2024-01-02's only row and moves to 2024-01-01
    val src = Seq((2L, "2024-01-01", "B2")).toDF("k", "day", "v")
      .withColumn("day", $"day".cast("date"))
    val out = Merge.into(spark, path, src, Seq("k"), prunePartitions = Some("day"))
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a"), (2L, "B2")))
    assert(read(path).filter($"k" === 2L).count() == 1,
      "moved key duplicated across date partitions")
    val dirs = liveDirs(path)
    assert(dirs == Set("day=2024-01-01"), s"stale date partition survived: $dirs")
  }

  test("partition-scoped merge handles a TIMESTAMP partition column " +
    "(escaped on-disk dir names)") {
    val path = freshStore()
    Seq((1L, "2024-01-01 10:30:00", "a"), (2L, "2024-01-02 11:00:00", "b"))
      .toDF("k", "ts", "v").withColumn("ts", $"ts".cast("timestamp"))
      .write.partitionBy("ts").parquet(path)
    val src = Seq((2L, "2024-01-01 10:30:00", "B2")).toDF("k", "ts", "v")
      .withColumn("ts", $"ts".cast("timestamp"))
    val out = Merge.into(spark, path, src, Seq("k"), prunePartitions = Some("ts"))
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a"), (2L, "B2")))
    assert(read(path).filter($"k" === 2L).count() == 1)
    val dirs = liveDirs(path)
    assert(dirs.size == 1 && dirs.head.startsWith("ts=2024-01-01"),
      s"stale timestamp partition survived: $dirs")
  }

  test("partition-scoped merge retires a leftover dir whose files hold zero " +
    "rows instead of nesting the staged dir inside it") {
    val path = freshStore()
    Seq((2L, "p2", "b")).toDF("k", "part", "v")
      .write.partitionBy("part").parquet(path)
    // plant part=p1 holding only a schema-only (zero-row) parquet file —
    // the residue a crashed/emptied earlier write can leave. It yields no
    // rows, so file-scan-based dir discovery can't see it; the swap must
    // still retire it or rename would nest part=p1/part=p1.
    // write to a subpath of the temp dir: createTempDirectory already
    // created the dir itself, and Spark's parquet writer refuses an
    // existing destination ([PATH_ALREADY_EXISTS])
    val emptyTmp = Files.createTempDirectory("graft_merge_empty").toString + "/d"
    Seq((0L, "x")).toDF("k", "v").filter(lit(false))
      .repartition(1).write.parquet(emptyTmp)
    val emptyFile = new java.io.File(emptyTmp).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .head
    val leftover = new java.io.File(path, "part=p1")
    assert(leftover.mkdirs())
    java.nio.file.Files.copy(emptyFile.toPath,
      new java.io.File(leftover, emptyFile.getName).toPath)

    val src = Seq((1L, "p1", "a")).toDF("k", "part", "v")
    val out = Merge.into(spark, path, src, Seq("k"), prunePartitions = Some("part"))
      .select("k", "part", "v").as[(Long, String, String)].collect().toSet
    assert(out == Set((1L, "p1", "a"), (2L, "p2", "b")))
    assert(!new java.io.File(leftover, "part=p1").exists(),
      "staged dir was nested inside the leftover partition dir")
    assert(!liveFiles(path).contains(s"part=p1/${emptyFile.getName}"),
      "zero-row leftover file survived the swap")
  }

  test("schema evolution composes with partition pruning: untouched " +
    "old-schema partitions read NULL for evolved columns") {
    val path = freshStore()
    Seq((1L, "p1", "a"), (3L, "p2", "c"))
      .toDF("k", "part", "v").write.partitionBy("part").parquet(path)
    val evolved = Seq((1L, "p1", "A", 0.7)).toDF("k", "part", "v", "score")
    val out = Merge.into(spark, path, evolved, Seq("k"),
      prunePartitions = Some("part"), evolveSchema = true)
      .select("k", "part", "v", "score")
      .as[(Long, String, String, Option[Double])].collect().toSet
    assert(out == Set(
      (1L, "p1", "A", Some(0.7)),
      (3L, "p2", "c", None)), // untouched partition: old schema, NULL evolved col
    "evolved column lost on read-back of a partially-evolved store")
  }

  test("an empty source merged into a partitioned store changes no row") {
    val path = freshStore()
    Seq((1L, "p1", "a"), (2L, "p2", "b"))
      .toDF("k", "part", "v").write.partitionBy("part").parquet(path)
    // no source row: no touched partition, so the scoped read plans no scan
    val src = Seq((0L, "p0", "x")).toDF("k", "part", "v").filter(lit(false))
    val out = Merge.into(spark, path, src, Seq("k"), prunePartitions = Some("part"))
      .select("k", "part", "v").as[(Long, String, String)].collect().toSet
    assert(out == Set((1L, "p1", "a"), (2L, "p2", "b")))
    assert(liveDirs(path) == Set("part=p1", "part=p2"))
  }
}
