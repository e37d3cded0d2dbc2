package graft.streaming

import graft.flow.SparkTestSession
import graft.operators.Dedup
import graft.sources.Tables
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gate for the streaming directional-containment gate (VERDICT r15 item
  * 6 — completes the streaming near-dup family alongside
  * DedupAgainstStreamSpec and DecontaminateStreamSpec): an incremental
  * feed gated against a FROZEN reference corpus must admit, across
  * micro-batches, EXACTLY what the batch operator admits on the union —
  * with NO cap caveat (containment decisions are per-doc pure by
  * construction) — and the only cross-batch state is the fixed frozen
  * cache pair, released to session baseline afterwards. */
class ContainmentStreamSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("cross-batch admissions equal the batch operator on the union; " +
    "frozen state is fixed-size and releases to baseline") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // doc_id % 3 != 0 streams in, % 3 == 0 is the frozen reference —
    // the exact q_containment_against corpus split (oracle-proven)
    val probes = docs.filter(col("doc_id") % 3 =!= 0)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val reference = docs.filter(col("doc_id") % 3 === 0)

    // union-side expected answer via the oracle-gated batch operator —
    // its internal caches are fully released (containmentAgainst frees
    // the frozen side; the returned frame is unpersisted below), so the
    // baseline snapshot comes after
    val wantFrame = Dedup.containmentAgainst(
      docs.filter(col("doc_id") % 3 =!= 0), reference,
      "doc_id", "text", shingleN = 3, threshold = 0.8)
    val want = wantFrame.select("doc_id").as[Long].collect().toSet
    wantFrame.unpersist()

    def cachedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val baselineIds = cachedIds

    val batches = Seq(
      probes.filter(_._1 % 3 == 1),
      probes.filter(p => p._1 % 3 == 2 && p._1 % 2 == 0),
      probes.filter(p => p._1 % 3 == 2 && p._1 % 2 == 1))
    assert(batches.forall(_.nonEmpty))

    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cachedAfterBatch = List.empty[Int]
    val (q, release) = StreamOps.containmentAgainstStream(
      mem.toDF().toDF("doc_id", "text"), reference,
      tmp("graft_cas_ck"), "doc_id", "text",
      shingleN = 3, threshold = 0.8) { (adm, _) =>
      admitted ++= adm.select("doc_id").as[Long].collect()
      cachedAfterBatch ::= cachedIds.size
    }
    try {
      for (b <- batches) { mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    // exactness: union of per-batch admissions == the batch operator on
    // the union — EXACT by construction here (per-doc pure decisions, no
    // corpus-side cap in the containment path at all)
    assert(admitted.size == admitted.distinct.size, "no doc admitted twice")
    assert(admitted.toSet == want,
      s"stream-vs-batch drift: extra=${admitted.toSet -- want} " +
        s"missing=${want -- admitted.toSet}")
    assert(want.nonEmpty, "fixture must admit something")
    assert(admitted.size < probes.size,
      "fixture must exercise the drop path (some doc contained in reference)")

    // bounded state: persisted-RDD count FLAT across batches (the frozen
    // cache pair only — per-batch sets/ordered/admitted are released
    // inside the trigger), and release() returns to session baseline
    assert(cachedAfterBatch.distinct.size == 1,
      s"per-batch cache growth: $cachedAfterBatch")
    release()
    assert(cachedIds == baselineIds,
      s"release() must return to baseline (leftover=${cachedIds -- baselineIds})")
  }

  test("containmentAgainstFrozen decisions are per-doc pure: any batch " +
    "split admits the same ids (batch-boundary invariance)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val reference = docs.filter(col("doc_id") % 3 === 0)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val frozen = Dedup.freezeContainmentReference(reference, "doc_id", "text")
    try {
      val whole = Dedup.containmentAgainstFrozen(corpus, frozen)
      val wholeIds = whole.select("doc_id").as[Long].collect().toSet
      whole.unpersist()
      // a different split than the streaming test: halves by doc_id/3
      // parity — decisions must not move across the boundary
      val parts = Seq(
        corpus.filter((col("doc_id") / 3).cast("long") % 2 === 0),
        corpus.filter((col("doc_id") / 3).cast("long") % 2 === 1))
      val got = parts.flatMap { p =>
        val a = Dedup.containmentAgainstFrozen(p, frozen)
        val ids = a.select("doc_id").as[Long].collect().toSet
        a.unpersist()
        ids
      }.toSet
      assert(got == wholeIds)
    } finally frozen.release()
  }

  test("frozen-path verify strategies are interchangeable: forced hash " +
    "tier admits exactly what the string verify admits") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val reference = docs.filter(col("doc_id") % 3 === 0)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    def run(strategy: String): Set[Long] = {
      val frozen = Dedup.freezeContainmentReference(reference, "doc_id", "text")
      try {
        val (contained, release) = Dedup.ppjoin(
          Dedup.shingleSets(corpus, "doc_id", "text", shingleN = 3), Some(frozen),
          jaccard = false, threshold = 0.8, maxTokenDf = frozen.maxTokenDf,
          twoTierAt = if (strategy == "hash") 0L else Long.MaxValue)
        val adm = corpus.join(contained.select(col("id_a").as("doc_id")),
          Seq("doc_id"), "left_anti")
        val ids = adm.select("doc_id").as[Long].collect().toSet
        release()
        ids
      } finally frozen.release()
    }
    val viaString = run("string")
    val viaHash = run("hash")
    assert(viaString == viaHash,
      s"strategy drift: onlyString=${viaString -- viaHash} " +
        s"onlyHash=${viaHash -- viaString}")
    assert(viaString.nonEmpty && viaString.size < 2 * docs.count().toInt)
  }

  test("the directional axis catches what symmetric dedup-against misses: " +
    "a short excerpt of a long reference doc") {
    // reference: one long doc; probe: a short excerpt of it (its shingles
    // are a strict subset) plus an unrelated doc
    val longText = (1 to 120).map(i => s"w$i").mkString(" ")
    val excerpt = (40 to 55).map(i => s"w$i").mkString(" ")
    val reference = Seq((100L, longText)).toDF("doc_id", "text")
    val probe = Seq((1L, excerpt), (2L, "totally unrelated words here now"))
      .toDF("doc_id", "text")
    val adm = Dedup.containmentAgainst(
      probe, reference, "doc_id", "text", shingleN = 3, threshold = 0.8)
    val ids = adm.select("doc_id").as[Long].collect().toSet
    adm.unpersist()
    assert(ids == Set(2L), s"excerpt must be dropped, unrelated kept: $ids")
    // symmetric jaccard at the same threshold KEEPS the excerpt
    // (|A∩B|/|A∪B| ≈ 14/118 → far below 0.8)
    val sym = Dedup.dedupAgainst(
      probe, reference, "doc_id", "text", shingleN = 3, threshold = 0.8)
    assert(sym.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
  }
}
