package graft.operators

import java.nio.file.Files

import graft.flow.SparkTestSession
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Commit-log schema evolution: the log records the table schema per
  * commit, reads apply it without every caller opting into mergeSchema,
  * time travel below an evolution sees the old shape, conflicting types
  * for the same column refuse loudly even from disjoint-partition
  * writers, and checkpoints preserve the schema across manifest vacuum. */
class SchemaEvolutionSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("evolved column appears on a plain read, null-filled for " +
    "untouched partitions; time travel below the evolution hides it") {
    val store = tmp("graft_sev") + "/s"
    Merge.into(spark, store,
      Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "p"),
      Seq("k"), prunePartitions = Some("p"))
    // evolve: new column w, touching only p1
    Merge.into(spark, store,
      Seq((1L, "A", "p1", 7L)).toDF("k", "v", "p", "w"),
      Seq("k"), prunePartitions = Some("p"), evolveSchema = true)

    // plain read (no mergeSchema flag anywhere): w is there, p2 rows null
    val out = CommitLog.read(spark, new Path(store)).get
      .select("k", "v", "p", "w")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        Option(r.get(3)))).toSet
    assert(out == Set(
      (1L, "A", "p1", Some(7L)),
      (2L, "b", "p2", None)))

    // pinned read at v1: pre-evolution schema, no w
    val v1 = CommitLog.read(spark, new Path(store), Some(1L)).get
    assert(!v1.columns.contains("w"))
    assert(v1.select("k").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("the same new column at a different type refuses loudly — even " +
    "from a writer whose partitions are disjoint") {
    val store = tmp("graft_sevc") + "/s"
    Merge.into(spark, store,
      Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "p"),
      Seq("k"), prunePartitions = Some("p"))
    Merge.into(spark, store,
      Seq((1L, "A", "p1", 7L)).toDF("k", "v", "p", "w"),
      Seq("k"), prunePartitions = Some("p"), evolveSchema = true)
    // Sequential writer: the merge plan itself sees the recorded LONG
    // type and the bad cast fails loudly before anything commits.
    intercept[Exception] {
      Merge.into(spark, store,
        Seq((2L, "B", "p2", "seven")).toDF("k", "v", "p", "w"),
        Seq("k"), prunePartitions = Some("p"), evolveSchema = true)
    }
    // RACING writer: computed its staged files before the long-typed
    // evolution landed, so its own plan never saw the conflict —
    // partition OCC admits it (p2 is disjoint); the commit-time schema
    // check is the only line of defense.
    val sp = new Path(store)
    val staged = Seq((2L, "B", "p2", "seven")).toDF("k", "v", "p", "w")
    val staging = new Path(tmp("graft_sevc_stage"), "st")
    staged.write.parquet(staging.toString)
    val e = intercept[CommitLog.ConflictException] {
      CommitLog.commitStaged(spark, sp, staging,
        CommitLog.currentVersion(fs, sp), Nil, wholeStore = false,
        extraTouched = Seq("p=p2"), schema = Some(staged.schema))
    }
    assert(e.getMessage.contains("schema type conflict"))
    // store intact at the pre-conflict version
    val out = CommitLog.read(spark, new Path(store)).get
      .select("k", "w").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(out == Set((1L, Some(7L)), (2L, None)))
  }

  test("checkpoints carry the schema: vacuuming the manifests that " +
    "recorded it does not lose it") {
    val store = tmp("graft_sevk") + "/s"
    val sp = new Path(store)
    Merge.into(spark, store,
      Seq((1L, "a", "p1", 7L)).toDF("k", "v", "p", "w"),
      Seq("k"), prunePartitions = Some("p"))
    assert(CommitLog.schemaAt(fs, sp, 1L).exists(_.fieldNames.contains("w")))
    // push past a checkpoint with schema-less commits (empty staging),
    // then vacuum the early manifests away
    (2 to 12).foreach { i =>
      CommitLog.commitStaged(spark, sp,
        new Path(tmp(s"graft_sevk_stage$i")), CommitLog.currentVersion(fs, sp),
        Nil, wholeStore = false, extraTouched = Seq(s"noop-$i"))
    }
    CommitLog.vacuum(spark, sp, retainVersions = 2, orphanGraceMs = 0L)
    // the schema-recording manifest (v1) is gone; the v10 checkpoint has it
    intercept[Exception] { CommitLog.readManifest(fs, sp, 1L) }
    val sch = CommitLog.schemaAt(fs, sp, CommitLog.currentVersion(fs, sp))
    assert(sch.exists(_.fieldNames.sameElements(Array("k", "v", "p", "w"))))
    // read applies it (partition column surfaces last — Spark's standard
    // file-source layout); w keeps its recorded LONG type
    val out = CommitLog.read(spark, sp).get
    assert(out.columns.toSet == Set("k", "v", "p", "w"))
    assert(out.schema("w").dataType ==
      org.apache.spark.sql.types.LongType)
  }
}
