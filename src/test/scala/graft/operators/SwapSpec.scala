package graft.operators

import java.nio.file.Files

import graft.flow.SparkTestSession
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Recovery of the retired staged-swap protocol's crash states, exercised
  * both directly and through the operators that adopt a legacy store
  * ([[CommitLog.adopt]] runs the roll-forward once before publishing the
  * store's files as log version 1). The headline case is the one ADVICE
  * flagged as silent corruption: a crash between retiring an SCD2
  * store's open slice and moving the staged replacement in used to leave
  * the store with NO current versions — the next apply would quietly
  * reopen every key as new. */
class SwapSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def copyDir(src: String, dst: String): Unit =
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(src), fs, new Path(dst), false, spark.sparkContext.hadoopConfiguration)

  /** The files of a log store's current snapshot, copied to `dst` without
    * the log — the on-disk shape a legacy swap writer left behind. */
  private def legacyCopy(src: String, dst: String): Unit = {
    val p = new Path(src)
    CommitLog.snapshotFiles(fs, p, CommitLog.currentVersion(fs, p)).foreach { f =>
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(p, f), fs, new Path(dst, f),
        false, spark.sparkContext.hadoopConfiguration)
    }
  }

  private def writeMarker(staging: String, retireNames: Seq[String]): Unit = {
    val out = fs.create(new Path(staging, Swap.DirsMarker), true)
    try out.write(retireNames.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  test("completed-swap orphans are cleaned when the target is intact, " +
    "and a later crash recovers despite them") {
    val base = tmp("graft_swap_orphan")
    val store = s"$base/d"
    Seq((1L, "v1")).toDF("k", "v").write.parquet(store)

    // scenario A: a previous swap completed but crashed before deleting
    // its retired copy — recovery with the target intact cleans it
    copyDir(store, Swap.Hidden.retired(new Path(store), "t1").toString)
    Swap.recoverWholeDir(spark, new Path(store), Swap.Hidden, allowLoneStaging = false)
    assert(!fs.exists(Swap.Hidden.retired(new Path(store), "t1")))
    assert(spark.read.parquet(store).count() == 1)

    // scenario B: the orphan was NOT cleaned (no recovery ran) and a
    // later swap crashes between its two renames — olds = [orphan t2,
    // pair t3], stagings = [t3]. The single completable pair must roll
    // forward (this used to fail the olds.length==1 check and brick the
    // dir), and the stale orphan is dropped.
    copyDir(store, Swap.Hidden.retired(new Path(store), "t2").toString)
    copyDir(store, Swap.Hidden.staging(new Path(store), "t3").toString)
    assert(fs.rename(new Path(store), Swap.Hidden.retired(new Path(store), "t3")))
    Swap.recoverWholeDir(spark, new Path(store), Swap.Hidden, allowLoneStaging = false)
    assert(spark.read.parquet(store).count() == 1)
    assert(!fs.exists(Swap.Hidden.retired(new Path(store), "t2")))
    assert(!fs.exists(Swap.Hidden.retired(new Path(store), "t3")))
  }

  test("commitDirs + recoverDirs: a crash after the intent marker rolls " +
    "forward — retired-but-not-replaced dirs complete their swap") {
    val base = tmp("graft_swap_dirs")
    val store = s"$base/s"
    Seq((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p3")).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(store)

    // stage replacements for p=p1 and p=p2 (new values), as a partition-
    // scoped rewrite would
    val staging = s"$store.staging-zz"
    val retired = s"$store.old-zz"
    Seq((1L, "A", "p1"), (2L, "B", "p2")).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(staging)
    writeMarker(staging, Seq("p=p1", "p=p2"))
    // crash window: p=p1 retired, p=p2 not yet, nothing moved in
    fs.mkdirs(new Path(retired))
    assert(fs.rename(new Path(store, "p=p1"), new Path(retired, "p=p1")))

    Swap.recoverDirs(spark, new Path(store), Swap.Suffix)
    val rows = spark.read.parquet(store)
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "A", 2L -> "B", 3L -> "c"))
    assert(!fs.exists(new Path(staging)) && !fs.exists(new Path(retired)))
  }

  test("recoverDirs discards a pre-commit staging (no marker): the store " +
    "is untouched and the half-written staging is removed") {
    val base = tmp("graft_swap_pre")
    val store = s"$base/s"
    Seq((1L, "a", "p1")).toDF("k", "v", "p").write.partitionBy("p").parquet(store)
    val staging = s"$store.staging-yy"
    Seq((1L, "GARBAGE", "p1")).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(staging) // no marker: not committed
    Swap.recoverDirs(spark, new Path(store), Swap.Suffix)
    assert(spark.read.parquet(store).select("v").as[String].head() == "a")
    assert(!fs.exists(new Path(staging)))
  }

  test("SCD2 crash between retiring the open slice and the staged move " +
    "recovers on the next read/apply instead of reopening every key") {
    val base = tmp("graft_swap_scd2")
    val store = s"$base/dim"
    val b1 = Seq((1L, "NY"), (2L, "SF")).toDF("id", "city")
    val b2 = Seq((1L, "BOS")).toDF("id", "city")
    // the legacy store after batch 1, and the state batch 2 leads to
    val built = s"$base/built"
    Scd2.apply(spark, built, b1, "id", "2024-01-01 00:00:00")
    legacyCopy(built, store)
    val expected = Scd2.apply(spark, built, b2, "id", "2024-02-01 00:00:00")
      .orderBy("id", "valid_from")
      .select("id", "city", "is_current").as[(Long, String, Boolean)].collect().toSeq
    val donor = s"$base/donor"
    legacyCopy(built, donor)

    // craft the mid-swap crash state on the real store: the staged slices
    // (taken from another full apply) plus the committed intent marker,
    // with the open slice ALREADY RETIRED — the store has no current
    // versions at this instant
    val staging = s"$store.staging-crash1"
    fs.mkdirs(new Path(staging))
    val open = s"${Scd2.SliceCol}=open"
    val closed = s"${Scd2.SliceCol}=c2024-02"
    copyDir(s"$donor/$open", s"$staging/$open")
    copyDir(s"$donor/$closed", s"$staging/$closed")
    writeMarker(staging, Seq(open, closed))
    val retired = s"$store.old-crash1"
    fs.mkdirs(new Path(retired))
    assert(fs.rename(new Path(store, open), new Path(retired, open)))
    assert(!fs.exists(new Path(store, open)), "crash state must lack an open slice")

    // read() adopts the store, rolling the swap forward first: it equals
    // the clean apply
    val got = Scd2.read(spark, store).orderBy("id", "valid_from")
      .select("id", "city", "is_current").as[(Long, String, Boolean)].collect().toSeq
    assert(got == expected)
    assert(!fs.exists(new Path(staging)) && !fs.exists(new Path(retired)))

    // and the store keeps working: an idempotent re-apply adds no churn
    val again = Scd2.apply(spark, store, b2, "id", "2024-02-01 00:00:00")
    assert(again.count() == 3)
  }

  test("an SCD2 store with closed slices but no open slice and no " +
    "recoverable leftovers fails loudly instead of reopening keys") {
    val base = tmp("graft_swap_scd2bad")
    val store = s"$base/dim"
    val built = s"$base/built"
    Scd2.apply(spark, built, Seq((1L, "a")).toDF("id", "v"), "id", "2024-01-01 00:00:00")
    Scd2.apply(spark, built, Seq((1L, "b")).toDF("id", "v"), "id", "2024-02-01 00:00:00")
    legacyCopy(built, store)
    fs.delete(new Path(store, s"${Scd2.SliceCol}=open"), true)
    val e = intercept[IllegalStateException] {
      Scd2.read(spark, store)
    }
    assert(e.getMessage.contains("no " + Scd2.SliceCol + "=open"), e.getMessage)
  }

  test("legacy migration rejects a closed version with NULL valid_to " +
    "(it would silently vanish from point-in-time reads)") {
    val base = tmp("graft_swap_legacy")
    val store = s"$base/dim"
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq(
      (1L, "old", t1, Option.empty[java.sql.Timestamp], false), // malformed
      (1L, "new", t1, Option.empty[java.sql.Timestamp], true))
      .toDF("id", "v", "valid_from", "valid_to", "is_current")
      .write.parquet(store)
    val e = intercept[IllegalArgumentException] {
      Scd2.apply(spark, store, Seq((2L, "x")).toDF("id", "v"), "id", "2024-03-01 00:00:00")
    }
    assert(e.getMessage.contains("NULL valid_to"), e.getMessage)
  }

  test("Merge partition-scoped crash after the marker rolls forward on " +
    "the next merge call") {
    val base = tmp("graft_swap_merge")
    val store = s"$base/t"
    Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(store)
    // crash state: staged rewrite of p=p1 committed (marker), p=p1 retired
    val staging = s"$store.staging-mm"
    Seq((1L, "a2", "p1")).toDF("k", "v", "p").write.partitionBy("p").parquet(staging)
    writeMarker(staging, Seq("p=p1"))
    val retired = s"$store.old-mm"
    fs.mkdirs(new Path(retired))
    assert(fs.rename(new Path(store, "p=p1"), new Path(retired, "p=p1")))

    // the next merge recovers first, then applies its own source
    val out = Merge.into(spark, store,
      Seq((2L, "b2", "p2")).toDF("k", "v", "p"), Seq("k"), prunePartitions = Some("p"))
    val rows = out.select("k", "v").as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "a2", 2L -> "b2"))
    assert(!fs.exists(new Path(staging)) && !fs.exists(new Path(retired)))
  }
}
