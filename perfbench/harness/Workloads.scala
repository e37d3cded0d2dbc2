package org.apache.spark.sql.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.flow.{Pipeline, Router, Sinks}
import graft.functions.TextFunctions
import graft.operators._

object Util {
  def rm(path: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(new File(path))
  }

  def files(path: String): Seq[File] = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(g => files(g.getPath))
    else if (f.exists()) Seq(f) else Nil
  }

  def dirBytes(path: String): Long = files(path).map(_.length()).sum

  def write(path: String, text: String): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(new File(path).toPath, text.getBytes(StandardCharsets.UTF_8))
  }

  def longs(df: DataFrame, c: String): Seq[Long] =
    df.select(col(c).cast("long")).collect().map(_.getLong(0)).toSeq.sorted

  def jsonLongs(xs: Seq[Long]): String = xs.mkString("[", ",", "]")

  def secs[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

}

import Util._

// ------------------------------------------------------------------ curate

/** Batch corpus curation: `CorpusCuration.curate` and a parquet sink. The
  * traced run calls the pipeline's stages one at a time (same operators,
  * same parameters) so each gets its own span, and additionally times each
  * text kernel alone into a noop sink. */
final class Curate(spark: SparkSession, rec: Recorder, in: String, out: String)
    extends Workload {
  private val corpus = spark.read.parquet(s"$in/corpus.parquet")
  private val bench = spark.read.parquet(s"$in/bench.parquet")
  private val MinTokens = 20L
  private val Threshold = 0.8
  private val NgramN = 8
  private val Bands = 16
  private var n = 0L
  private val stageIds = mutable.Map.empty[String, Seq[Long]]
  private var pairsJson = "[]"
  private val counts = mutable.Map.empty[String, Double]
  def items: Long = n

  private def curate(df: DataFrame): DataFrame =
    CorpusCuration.curate(df, "doc_id", "text", keepLangs = Set("en"),
      minTokens = MinTokens, nearDupThreshold = Threshold,
      benchmark = Some(bench), decontaminateN = NgramN)

  private def dir(i: Int) = s"$out/curate/round_$i"

  def setup(): Unit = {
    n = rec.span("sources.scan_s") { bench.count(); corpus.count() }
  }

  def prepare(i: Int): Unit = rm(dir(i - 1))

  def round(i: Int): Double =
    if (!rec.tracing) { Sinks.parquet(curate(corpus), dir(i)); 0.0 }
    else tracedRound(i)

  private def tracedRound(i: Int): Double = {
    val (_, kernelS) = secs {
      rec.span("kernels.annotate_s")(noop(CorpusCuration.annotate(corpus, "text")))
      rec.span("kernels.signature_s")(noop(corpus.select(
        TextFunctions.minhashTextSignature(col("text"), 3, 128))))
      rec.span("kernels.ngram_hash_s")(noop(corpus.select(
        org.apache.spark.sql.graft.ShingleHashes.column(col("text"), NgramN, 42L))))
    }
    val (filtered, exact, pairs, deduped, cleaned) = {
      val filtered = CorpusCuration.annotate(corpus, "text")
        .filter(col("lang").isin("en"))
        .filter(col("n_tokens").between(MinTokens, 1000000L))
        .filter(col("uniq_ratio") >= 0.0)
        .filter(col("alpha_ratio") >= 0.0)
      val exact = rec.span("dedup.exact_s") {
        val e = Dedup.exact(filtered, "doc_id", "text").persist(); e.count(); e
      }
      val pairs = rec.span("dedup.minhash_s") {
        val p = Dedup.minhashNearDup(exact, "doc_id", "text", numHashes = 128,
          bands = Bands, shingleN = 3, threshold = Threshold).persist()
        p.count(); p
      }
      val deduped = rec.span("dedup.cluster_s") {
        val losers = Dedup.nearDupClusters(pairs)
          .filter(col("id") =!= col("cluster")).select(col("id").as("doc_id"))
        val d = exact.join(losers, Seq("doc_id"), "left_anti").persist()
        d.count(); d
      }
      val cleaned = rec.span("decontam.clean_s") {
        val c = Decontaminate.clean(deduped, "doc_id", "text", bench, "text", NgramN).persist()
        c.count(); c
      }
      rec.span("sinks.write_s")(Sinks.parquet(cleaned, dir(i)))
      (filtered, exact, pairs, deduped, cleaned)
    }
    val (_, collectS) = secs {
      stageIds("filtered") = longs(filtered, "doc_id")
      stageIds("exact") = longs(exact, "doc_id")
      stageIds("near") = longs(deduped, "doc_id")
      stageIds("clean") = longs(cleaned, "doc_id")
      val ps = pairs.collect()
      pairsJson = ps.map(r => s"[${r.getLong(0)},${r.getLong(1)},${r.getDouble(2)}]")
        .mkString("[", ",", "]")
      counts("dedup.verified_pairs") = ps.length.toDouble
      counts("dedup.docs") = stageIds("exact").size.toDouble
      counts("decontam.removed") = (stageIds("near").size - stageIds("clean").size).toDouble
    }
    kernelS + collectS
  }

  def diskBytes(i: Int): Long = dirBytes(dir(i))

  def finish(last: Int): Map[String, Double] = {
    val survivors = longs(spark.read.parquet(dir(last)), "doc_id")
    val stages = stageIds.map { case (k, v) => Json.str(k) + ":" + jsonLongs(v) }
    write(s"$out/check/curate.json",
      s"""{"survivors":${jsonLongs(survivors)},"stages":{${stages.mkString(",")}},"pairs":$pairsJson}""")
    if (!rec.tracing) Map.empty
    else {
      rec.drain()
      // band rows: stages of the near-dup call that shuffle about one
      // record per (doc, band) or more; 1.0 means each band row is
      // shuffled once
      val bandRows = counts("dedup.docs") * Bands
      val perStage = rec.stats("dedup.minhash_s").shuffleRecordsPerStage
      val recompute = perStage.filter(_ >= 0.5 * bandRows).sum / bandRows / (last + 1)
      Seq("kernels.annotate_s", "kernels.signature_s", "kernels.ngram_hash_s",
        "dedup.exact_s", "dedup.minhash_s", "dedup.cluster_s", "decontam.clean_s",
        "sinks.write_s").map(k => k -> rec.perRound(k)).toMap ++ Map(
        "sources.scan_s" -> rec.durations("sources.scan_s").sum,
        "dedup.verified_pairs" -> counts("dedup.verified_pairs"),
        "dedup.band_recompute" -> recompute,
        "decontam.removed" -> counts("decontam.removed"))
    }
  }
}

// --------------------------------------------------------------------- etl

/** DataflowEx-style ETL: one `flow.Pipeline` per round whose children run
  * concurrently, each ending in a parquet sink. */
final class Etl(spark: SparkSession, rec: Recorder, in: String, out: String)
    extends Workload {
  private def read(t: String) = spark.read.parquet(s"$in/$t.parquet")
  private val customer = read("customer")
  private val orders = read("orders")
  private val lineitem = read("lineitem")
  private val price = read("price")
  private val updates = read("updates")
  private var n = 0L
  private val commitFiles = mutable.ArrayBuffer.empty[Double]
  private val commitBytes = mutable.ArrayBuffer.empty[Double]
  @volatile private var loadedVersion = 1L
  def items: Long = n
  private def dir(i: Int) = s"$out/etl/round_$i"

  def setup(): Unit = {
    n = rec.span("sources.scan_s") {
      Seq(customer, orders, price, updates).foreach(_.count()); lineitem.count()
    }
  }

  def prepare(i: Int): Unit = rm(dir(i - 1))

  /** The pipeline: a Router split, a broadcast-if-small dimension join, a
    * salted join on the hot customer, an as-of price join, a cube, a
    * per-customer top-k, a partitioned sink and a commit-log upsert. */
  private def runPipeline(d: String): Unit = {
    val p = new Pipeline("etl", spark)
    val routed = Router(Seq("bulk" -> (col("qty") >= 25), "small" -> (col("qty") < 25)))
      .route(lineitem)
    def byPart(df: DataFrame) =
      df.groupBy("part_id").agg(count(lit(1)).as("n"), sum("qty").as("qty"))
    p.register("route_bulk")(rec.span("flow.route_s")(
      Sinks.parquet(byPart(routed("bulk")), s"$d/route_bulk")))
    p.register("route_small")(rec.span("flow.route_s")(
      Sinks.parquet(byPart(routed("small")), s"$d/route_small")))
    p.register("by_nation")(rec.span("joins.broadcast_s") {
      val dim = Joins.broadcastIfSmall(customer)
      Sinks.parquet(orders.join(dim, "cust_id").groupBy("nation", "segment")
        .agg(count(lit(1)).as("n_orders"), sum("priority").as("prio")), s"$d/by_nation")
    })
    p.register("by_customer")(rec.span("joins.salted_s") {
      val fact = lineitem.join(orders.select("order_id", "cust_id"), "order_id")
      val j = Skew.saltedJoin(fact, customer, "cust_id", buckets = 16,
        saltFrom = Some(col("order_id")))
      Sinks.parquet(j.groupBy("cust_id", "segment")
        .agg(count(lit(1)).as("n_lines"), sum("qty").as("qty")), s"$d/by_customer")
    })
    p.register("asof_revenue")(rec.span("asof.join_s") {
      val priced = AsOfJoin.asof(lineitem, price, Seq("part_id"), "ship_ts", "px_ts",
        Seq("price"))
      Sinks.parquet(priced.groupBy("part_id").agg(
        sum(col("qty") * col("price") * (lit(1.0) - col("discount"))).as("revenue"),
        count(lit(1)).as("n")), s"$d/asof_revenue")
    })
    // SQL text: the DataFrame spelling of this cube trips Spark's
    // ambiguous-self-join check
    orders.createOrReplaceTempView("etl_orders")
    customer.createOrReplaceTempView("etl_customer")
    p.register("cube")(rec.span("agg.cube_s") {
      Sinks.parquet(spark.sql("SELECT nation, segment, year(order_ts) AS year, " +
        "count(*) AS n, sum(priority) AS prio FROM etl_orders JOIN etl_customer " +
        "USING (cust_id) GROUP BY CUBE (nation, segment, year(order_ts))"), s"$d/cube")
    })
    p.register("topk")(rec.span("window.topk_s") {
      val totals = lineitem.groupBy("order_id").agg(sum("qty").as("total"))
        .join(orders.select("order_id", "cust_id"), "order_id")
      Sinks.parquet(TopK.perKey(totals, Seq("cust_id"), Seq("total", "order_id"), 3),
        s"$d/topk")
    })
    p.register("by_year")(rec.span("sinks.write_s") {
      Sinks.partitionedParquet(orders.withColumn("year", year(col("order_ts")))
        .join(customer, "cust_id"), s"$d/by_year", "year")
    })
    p.register("upsert")(upsert(s"$d/order_store"))
    try rec.span("flow.pipeline_s")(p.run(maxConcurrency = 4))
    finally { p.close(); routed.unpersist() }
  }

  private def storeFiles(store: String): Map[String, Long] =
    files(store).filter(f => f.getName.endsWith(".parquet") && !f.getPath.contains("/_log"))
      .map(f => f.getPath -> f.length()).toMap

  /** Commit-log order store: load the orders, upsert the update feed,
    * read the first snapshot back, compact. */
  private def upsert(store: String): Unit = {
    def rows(df: DataFrame) = df.select("order_id", "cust_id", "priority")
      .withColumn("shard", pmod(col("order_id"), lit(4L)).cast("int"))
    def merge(src: DataFrame): Unit = {
      val before = if (rec.tracing) storeFiles(store) else Map.empty[String, Long]
      rec.span("merge.into_s")(
        Merge.into(spark, store, rows(src), Seq("order_id"), prunePartitions = Some("shard")))
      if (rec.tracing && rec.round >= 0) {
        val after = storeFiles(store)
        val added = after.keySet -- before.keySet
        commitFiles.synchronized {
          commitFiles += added.size.toDouble
          commitBytes += added.toSeq.map(after).sum.toDouble
        }
      }
    }
    val path = new org.apache.hadoop.fs.Path(store)
    merge(orders)
    val loaded = CommitLog.currentVersion(
      path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
    loadedVersion = loaded
    merge(updates)
    rec.span("commitlog.read_s")(CommitLog.read(spark, path, Some(loaded)).get
      .agg(count(lit(1)), sum("priority")).collect())
    rec.span("compact.s")(Compact.compactLogStore(spark, store, "shard", maxFilesPerDir = 1))
  }

  def round(i: Int): Double = { runPipeline(dir(i)); 0.0 }

  def diskBytes(i: Int): Long = dirBytes(dir(i))

  def finish(last: Int): Map[String, Double] = {
    // the order store's newest state and its first snapshot, for the checker
    val store = new org.apache.hadoop.fs.Path(s"${dir(last)}/order_store")
    CommitLog.read(spark, store).get.write.parquet(s"${dir(last)}/store_final")
    CommitLog.read(spark, store, Some(loadedVersion)).get.write.parquet(s"${dir(last)}/store_v1")
    write(s"$out/check/etl.json", s"""{"dir":${Json.str(dir(last))}}""")
    if (!rec.tracing) Map.empty
    else {
      val children = Seq("flow.route_s", "joins.broadcast_s", "joins.salted_s",
        "asof.join_s", "agg.cube_s", "window.topk_s", "sinks.write_s", "merge.into_s",
        "commitlog.read_s", "compact.s")
      val childSum = Recorder.median(
        rec.allSpans.filter(s => children.contains(s.name) && s.round >= 0).groupBy(_.round)
          .values.map(_.map(_.durS).sum).toSeq)
      val pipe = rec.perRound("flow.pipeline_s")
      children.map(k => k -> rec.perRound(k)).toMap ++ Map(
        "sources.scan_s" -> rec.durations("sources.scan_s").sum,
        "flow.pipeline_s" -> pipe,
        "flow.child_sum_s" -> childSum,
        "flow.overlap" -> childSum / pipe,
        "commitlog.files_per_commit" -> Recorder.median(commitFiles.toSeq),
        "commitlog.bytes_per_commit" -> Recorder.median(commitBytes.toSeq))
    }
  }
}
