package graft.operators

import graft.flow.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Log-backed BM25 index: incremental append under the commit log. The
  * load-bearing property is EXACTNESS — build-then-append must score
  * identically to a one-shot build over the union, because BM25 freezes
  * nothing at build time (df/n/avgdl recompute from the updated store per
  * query, unlike IVF's frozen centroids). */
class Bm25LogIndexSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val firstHalf = Seq(
    (1L, "spark join spark"),
    (2L, "join window merge"))
  private val secondHalf = Seq(
    (3L, "spark window window window"),
    (4L, "merge merge merge merge"),
    (5L, "window scan hash"))
  private val queries =
    Seq("q1" -> "spark join", "q2" -> "merge window", "q3" -> "hash scan")

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_bm25log").toString + "/idx"

  test("build + append scores identically to a one-shot build over the union") {
    val dir = tmp()
    Bm25Index.buildAndSave(firstHalf.toDF("doc_id", "text"), dir, "doc_id", "text")
    val stats = Bm25Index.append(spark, dir, secondHalf.toDF("doc_id", "text"))
    assert(stats.docsAdded == 3 && stats.totalDocs == 5)

    val allDocs = (firstHalf ++ secondHalf).toDF("doc_id", "text")
    val direct = Bm25.topK(allDocs, "doc_id", "text", queries, 10)
      .as[(String, Long, Double)].collect().toSeq
    val appended = Bm25Index.load(spark, dir).topK(queries, 10)
      .as[(String, Long, Double)].collect().toSeq
    assert(appended == direct,
      "appended index must equal the one-shot online ranking exactly")
  }

  test("avgdl stays exact across many appends (long token total, not a running mean)") {
    val dir = tmp()
    Bm25Index.buildAndSave(firstHalf.toDF("doc_id", "text"), dir, "doc_id", "text")
    Bm25Index.append(spark, dir, Seq((3L, "spark window window window")).toDF("doc_id", "text"))
    Bm25Index.append(spark, dir, Seq((4L, "merge merge merge merge")).toDF("doc_id", "text"))
    val s = Bm25Index.append(spark, dir, Seq((5L, "window scan hash")).toDF("doc_id", "text"))
    // 3+3+4+4+3 tokens over 5 docs
    assert(s.totalDocs == 5 && s.avgdl == 17.0 / 5)
    val direct = Bm25.topK((firstHalf ++ secondHalf).toDF("doc_id", "text"),
      "doc_id", "text", queries, 10).as[(String, Long, Double)].collect().toSeq
    val chained = Bm25Index.load(spark, dir).topK(queries, 10)
      .as[(String, Long, Double)].collect().toSeq
    assert(chained == direct)
  }

  test("re-ingesting an indexed doc id is refused before anything is staged") {
    val dir = tmp()
    Bm25Index.buildAndSave(firstHalf.toDF("doc_id", "text"), dir, "doc_id", "text")
    val before = graft.operators.CommitLog.currentVersion(
      Swap.fsOf(spark, new org.apache.hadoop.fs.Path(dir)),
      new org.apache.hadoop.fs.Path(dir))
    val ex = intercept[IllegalArgumentException] {
      Bm25Index.append(spark, dir, Seq((2L, "join again")).toDF("doc_id", "text"))
    }
    assert(ex.getMessage.contains("already indexed"))
    val after = graft.operators.CommitLog.currentVersion(
      Swap.fsOf(spark, new org.apache.hadoop.fs.Path(dir)),
      new org.apache.hadoop.fs.Path(dir))
    assert(after == before, "refused append must not publish a version")
  }

  test("a version-pinned index is snapshot-isolated from later appends") {
    val dir = tmp()
    Bm25Index.buildAndSave(firstHalf.toDF("doc_id", "text"), dir, "doc_id", "text")
    val v1 = graft.operators.CommitLog.currentVersion(
      Swap.fsOf(spark, new org.apache.hadoop.fs.Path(dir)),
      new org.apache.hadoop.fs.Path(dir))
    val beforeScores = Bm25Index.load(spark, dir).topK(queries, 10)
      .as[(String, Long, Double)].collect().toSeq

    Bm25Index.append(spark, dir, secondHalf.toDF("doc_id", "text"))

    val pinned = Bm25Index.load(spark, dir, Some(v1)).topK(queries, 10)
      .as[(String, Long, Double)].collect().toSeq
    assert(pinned == beforeScores,
      "pinned read must score against the pre-append snapshot")
    val tip = Bm25Index.load(spark, dir).topK(queries, 10)
      .as[(String, Long, Double)].collect().toSeq
    assert(tip != beforeScores, "tip must see the appended docs")
  }

  test("append refuses a plain (non-log) store") {
    // an index in the layout written before the commit log: three plain
    // dirs, stats holding the average doc length itself
    val dir = tmp()
    val docs = firstHalf.toDF("doc_id", "text")
    val toks = docs.select($"doc_id",
      org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split($"text", " ")).as("term"))
    toks.groupBy("doc_id", "term").count().withColumnRenamed("count", "tf")
      .withColumn("tb", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash($"term"),
        org.apache.spark.sql.functions.lit(64)))
      .write.partitionBy("tb").parquet(s"$dir/postings")
    toks.groupBy("doc_id").count().withColumnRenamed("count", "dl")
      .write.parquet(s"$dir/doclen")
    val dls = firstHalf.map(_._2.split(" ").length.toLong)
    Seq((dls.size.toLong, dls.sum.toDouble / dls.size, 64))
      .toDF("n", "avgdl", "buckets").write.parquet(s"$dir/stats")
    val ex = intercept[IllegalArgumentException] {
      Bm25Index.append(spark, dir, secondHalf.toDF("doc_id", "text"))
    }
    assert(ex.getMessage.contains("not a log-backed"))
    // load adopts it and scores it exactly like the online form; it still
    // takes no appends (no token total to extend)
    val loaded = Bm25Index.load(spark, dir).topK(queries, 10)
      .as[(String, Long, Double)].collect().toSeq
    assert(loaded == Bm25.topK(docs, "doc_id", "text", queries, 10)
      .as[(String, Long, Double)].collect().toSeq)
    val ex2 = intercept[IllegalArgumentException] {
      Bm25Index.append(spark, dir, secondHalf.toDF("doc_id", "text"))
    }
    assert(ex2.getMessage.contains("built before the commit log"))
  }

  test("vacuum after appends keeps the tip scoring exactly; old stats files go") {
    val dir = tmp()
    val store = new org.apache.hadoop.fs.Path(dir)
    Bm25Index.buildAndSave(firstHalf.toDF("doc_id", "text"), dir, "doc_id", "text")
    Bm25Index.append(spark, dir, secondHalf.toDF("doc_id", "text"))
    val before = Bm25Index.load(spark, dir).topK(queries, 10)
      .as[(String, Long, Double)].collect().toSeq

    val (dataDeleted, _) = CommitLog.vacuum(spark, store,
      retainVersions = 1, orphanGraceMs = 0L)
    // the build-time stats file was logically replaced by the append and
    // must be physically reclaimable
    assert(dataDeleted >= 1, "vacuum should reclaim the replaced stats file")

    val after = Bm25Index.load(spark, dir).topK(queries, 10)
      .as[(String, Long, Double)].collect().toSeq
    assert(after == before, "vacuum must not change tip scores")
  }

  test("a racing append computed from a stale base conflicts loudly (OCC on stats)") {
    val dir = tmp()
    val store = new org.apache.hadoop.fs.Path(dir)
    val fs = Swap.fsOf(spark, store)
    Bm25Index.buildAndSave(firstHalf.toDF("doc_id", "text"), dir, "doc_id", "text")
    val base = CommitLog.currentVersion(fs, store)

    // writer A lands an append computed from `base`
    Bm25Index.append(spark, dir, Seq((3L, "spark window")).toDF("doc_id", "text"))

    // writer B also computed from `base` (its stats totals are now stale)
    // and tries to publish a commit retiring stats — the append touched
    // set. It must CONFLICT, not silently install stale totals.
    val staging = Swap.Suffix.staging(store, Swap.newTag())
    Seq((999L, 1L)).toDF("doc_id", "dl")
      .write.parquet(staging.toString + "/stats")
    intercept[CommitLog.ConflictException] {
      CommitLog.commitStaged(spark, store, staging, base,
        retireNames = Seq("stats"), wholeStore = false)
    }
    // the winner's snapshot is intact
    val idx = Bm25Index.load(spark, dir)
    assert(idx.topK(Seq("q" -> "spark"), 10).count() > 0)
  }

  test("log-loaded index still prunes to the query terms' hash buckets") {
    val dir = tmp()
    Bm25Index.buildAndSave(firstHalf.toDF("doc_id", "text"), dir, "doc_id", "text",
      buckets = 16)
    Bm25Index.append(spark, dir, secondHalf.toDF("doc_id", "text"))
    val plan = Bm25Index.load(spark, dir).topK(Seq("q" -> "spark"), 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tb#"), plan.take(4000))
  }
}
