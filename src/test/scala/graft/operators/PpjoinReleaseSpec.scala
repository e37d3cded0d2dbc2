package graft.operators

import graft.flow.SparkTestSession
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Adoption proof for the PPJoin cache release handle (VERDICT r13 item
  * 7): the pair pipeline's sh/prefixes caches are retained BY DESIGN for
  * repeated queries over one corpus, so a long-lived session that churns
  * through MANY corpora must release per corpus or storage memory grows
  * without bound — the r12 ADVICE leak class. This spec drives three
  * distinct corpora through prefixJaccardNearDupReleasable in one
  * session and asserts the persisted-RDD set returns EXACTLY to the
  * session baseline after each release() — measured, not just API'd.
  */
class PpjoinReleaseSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  test("three-corpus session: caches exist while querying, and release() " +
    "returns the persisted-RDD set to baseline every time") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def cachedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def cachedBytes: Long =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

    val baselineIds = cachedIds
    val baselineBytes = cachedBytes
    var peakBytes = 0L

    for (c <- 0 until 3) {
      // a genuinely distinct corpus per iteration (one appended token
      // per doc keeps the planted near-dup structure but changes every
      // shingle set, so nothing is plan-cache-shared across iterations)
      val corpus = docs.withColumn("text", concat(col("text"), lit(s" corpus$c")))
      val (pairs, release) = Dedup.prefixJaccardNearDupReleasable(
        corpus, "doc_id", "text", shingleN = 3, threshold = 0.5)
      val n = pairs.count() // materialize every plan derived from the frame
      assert(n > 0, s"corpus $c: fixture should contain near-dup pairs")
      assert(cachedIds.size > baselineIds.size,
        s"corpus $c: the sh/prefixes caches should be live while querying")
      peakBytes = math.max(peakBytes, cachedBytes)
      release()
      assert(cachedIds == baselineIds,
        s"corpus $c: release() must return the persisted-RDD set to the " +
          s"session baseline (leftover=${cachedIds -- baselineIds})")
    }
    assert(peakBytes > baselineBytes,
      "per-corpus caches should have measurable storage footprint")
    info(s"storage memory: baseline=$baselineBytes peak=$peakBytes " +
      s"after-release=$cachedBytes")
  }

  test("the replayable LSH family's releasable variants return their " +
    "internal caches to baseline too") {
    // plan-distinct corpus (appended token): another suite in the same
    // session may have cached the IDENTICAL shingle-set plan via a
    // non-releasable variant, and Spark's CacheManager dedupes persists
    // by plan — this test must observe ITS OWN caches appear and go
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("text", concat(col("text"), lit(" relspec")))
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def cachedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val baseline = cachedIds

    val runs: Seq[(String, () => (org.apache.spark.sql.DataFrame, () => Unit))] = Seq(
      ("minhash", () => Dedup.minhashNearDupReplayableReleasable(
        docs, "doc_id", "text", numHashes = 32, bands = 8, shingleN = 3, threshold = 0.8)),
      ("simhash", () => Dedup.simhashNearDupReplayableReleasable(
        docs, "doc_id", "text", maxHamming = 7, chunks = 4)),
      ("embedding", () => Dedup.embeddingNearDupReplayableReleasable(
        embs, "vec_id", "embedding", threshold = 0.3)),
      ("containment", () => Dedup.containmentNearDupReleasable(
        docs, "doc_id", "text", shingleN = 3, threshold = 0.8)),
      ("weighted_jaccard", () => Dedup.weightedJaccardNearDupReleasable(
        docs, "doc_id", "text", shingleN = 3, cap = 3, threshold = 0.5)),
      ("dedup_against", () => Dedup.dedupAgainstReleasable(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", shingleN = 3, threshold = 0.5)))
    for ((name, mk) <- runs) {
      val (pairs, release) = mk()
      pairs.count() // materialize every derived plan
      assert(cachedIds.size > baseline.size,
        s"$name: internal caches should be live while querying")
      release()
      assert(cachedIds == baseline,
        s"$name: release() must return the persisted-RDD set to baseline " +
          s"(leftover=${cachedIds -- baseline})")
    }
  }

  test("every PPJoin-family refusal returns the persisted-RDD set to " +
    "baseline") {
    val spark = this.spark
    import spark.implicits._
    def cachedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // plan-distinct text: a refusal must release ITS caches, never one
    // another suite cached for an identical plan
    val clones = (1L to 40L).map(i => (i, "the same exact boilerplate text releasespec"))
      .toDF("doc_id", "text")
    def refuses(name: String)(call: => Any): Unit = {
      val baseline = cachedIds
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
      val e = intercept[Throwable](call)
      assert(chain(e).exists(_.contains("exact dedup first")), s"$name: ${chain(e)}")
      assert(cachedIds == baseline,
        s"$name: refusal left ${cachedIds -- baseline} persisted")
    }
    refuses("prefixJaccardNearDup")(Dedup.prefixJaccardNearDup(
      clones, "doc_id", "text", shingleN = 3, threshold = 0.5, maxTokenDf = 10L))
    refuses("weightedJaccardNearDup")(Dedup.weightedJaccardNearDup(
      clones, "doc_id", "text", shingleN = 3, cap = 3, threshold = 0.5, maxTokenDf = 10L))
    refuses("containmentNearDup")(Dedup.containmentNearDup(
      clones, "doc_id", "text", shingleN = 3, threshold = 0.8, maxTokenDf = 10L))
    refuses("containmentAgainst")(Dedup.containmentAgainst(
      clones, clones, "doc_id", "text", shingleN = 3, threshold = 0.8, maxTokenDf = 10L))
    val frozen = Dedup.freezeContainmentReference(
      clones, "doc_id", "text", shingleN = 3, maxTokenDf = 10L)
    try refuses("containmentAgainstFrozen")(
      Dedup.containmentAgainstFrozen(clones, frozen, threshold = 0.8))
    finally frozen.release()
  }

  test("hammingNearDupClusters hands back its labels caller-owned and " +
    "keeps nothing else persisted") {
    val spark = this.spark
    import spark.implicits._
    def cachedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val hashes = (0L until 400L).map(i => (i, i * 7919L % 97L)).toDF("id", "h")
    val baseline = cachedIds
    val labels = Dedup.hammingNearDupClusters(hashes, "id", "h", maxHamming = 3)
    assert(labels.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "labels come back persisted")
    assert((cachedIds -- baseline).size == 1, s"only the labels: ${cachedIds -- baseline}")
    assert(labels.count() == 400)
    labels.unpersist()
    assert(cachedIds == baseline, s"leftover=${cachedIds -- baseline}")
  }
}
