package graft.streaming

import java.nio.file.Files

import graft.flow.SparkTestSession
import graft.operators.Merge
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

case class EnrichFact(k: Long, x: String)

/** Stream-static enrichment against a commit-log dim store: every row of
  * a micro-batch joins ONE pinned dim version; a dim commit landing
  * between batches is visible to the next batch; facts with no dim match
  * pass through null-extended; an unpopulated dim enriches nothing but
  * the stream still flows. */
class EnrichStreamSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("batches pin the dim version at batch start and pick up commits " +
    "between batches") {
    implicit val sc = spark.sqlContext
    val base = Files.createTempDirectory("graft_enrich").toString
    val dim = s"$base/dim"
    val ckpt = s"$base/ckpt"
    Merge.into(spark, dim,
      Seq((1L, "one"), (2L, "two")).toDF("k", "name"), Seq("k"))

    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[String], Long)]()
    val in = MemoryStream[EnrichFact]
    in.addData(EnrichFact(1L, "a"), EnrichFact(3L, "c"))
    val q = StreamOps.enrichStream(in.toDF(), dim, Seq("k"), ckpt) { (df, id) =>
      seen ++= df.select("k", "name", "graft_dim_version").collect()
        .map(r => (id, r.getLong(0), Option(r.getString(1)), r.getLong(2)))
    }
    try {
      q.processAllAvailable()
      // batch 0 @ dim v1: k=1 enriched, k=3 null-extended
      assert(seen.toSet == Set(
        (0L, 1L, Some("one"), 1L), (0L, 3L, None, 1L)))

      // dim evolves between batches: k=1 renamed, k=3 appears
      Merge.into(spark, dim,
        Seq((1L, "ONE"), (3L, "three")).toDF("k", "name"), Seq("k"))
      seen.clear()
      in.addData(EnrichFact(1L, "b"), EnrichFact(3L, "d"))
      q.processAllAvailable()
      assert(seen.toSet == Set(
        (1L, 1L, Some("ONE"), 2L), (1L, 3L, Some("three"), 2L)))
    } finally q.stop()
  }

  test("an unpopulated dim store enriches nothing but the stream flows " +
    "(version 0, no join)") {
    implicit val sc = spark.sqlContext
    val base = Files.createTempDirectory("graft_enrich0").toString
    val seen = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    val in = MemoryStream[EnrichFact]
    in.addData(EnrichFact(7L, "a"))
    val q = StreamOps.enrichStream(in.toDF(), s"$base/nodim", Seq("k"),
      s"$base/ckpt") { (df, _) =>
      seen ++= df.select("k", "x", "graft_dim_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    }
    try {
      q.processAllAvailable()
      assert(seen.toSet == Set((7L, "a", 0L)))
    } finally q.stop()
  }
}
