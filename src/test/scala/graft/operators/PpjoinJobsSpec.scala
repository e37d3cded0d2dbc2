package graft.operators

import graft.flow.SparkTestSession
import graft.sources.Tables
import org.apache.spark.graft.JobTrace
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark-job gate for the PPJoin family ([[Dedup.ppjoin]]): every call,
  * at both verify tiers, runs at most the jobs the family ran before it
  * shared one core. The bounds are those readings, taken with this
  * spec's setup (local[4], 4 shuffle partitions, the sf0.001 fixture).
  * The string tier runs through the public calls (the fixture's
  * candidate volume is far below the switch); the hash tier is forced
  * through the core's `twoTierAt`. */
class PpjoinJobsSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  private def sc = spark.sparkContext

  private var corpusNo = 0
  /** The fixture's documents plus one token unique to this call: caches
    * are plan-keyed, and a plan some other call already cached would run
    * fewer jobs than a fresh corpus does. */
  private def docs(): DataFrame = {
    corpusNo += 1
    Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("text", concat(col("text"), lit(s" jobs$corpusNo")))
  }

  /** Jobs run by a lazy-plus-release call, then by a count of its frame. */
  private def jobs(run: => (DataFrame, () => Unit)): (Int, Int) = {
    val ((frame, release), call) = JobTrace(sc)(run)
    val (_, counted) = JobTrace(sc)(frame.count())
    release()
    (call.jobs, counted.jobs)
  }

  private def assertAtMost(name: String, got: (Int, Int), bound: (Int, Int)): Unit = {
    info(s"$name: call ${got._1} + count ${got._2} jobs (bound ${bound._1} + ${bound._2})")
    assert(got._1 <= bound._1 && got._2 <= bound._2, s"$name ran $got jobs, bound $bound")
  }

  test("self-join calls: prefix Jaccard, weighted Jaccard and containment") {
    // inputs are built before each trace: only the call's own jobs count
    val d1, d2, d3, d4, d5, d6, d7 = docs()
    assertAtMost("prefixJaccard string", jobs(Dedup.prefixJaccardNearDupReleasable(
      d1, "doc_id", "text", shingleN = 3, threshold = 0.5)), (9, 5))
    val s2 = Dedup.shingleSets(d2, "doc_id", "text", 3)
    assertAtMost("prefixJaccard hash", jobs(Dedup.ppjoin(s2, None, jaccard = true,
      threshold = 0.5, maxTokenDf = 100000L, twoTierAt = 0L)), (18, 8))
    assertAtMost("weightedJaccard string", jobs(Dedup.weightedJaccardNearDupReleasable(
      d3, "doc_id", "text", shingleN = 3, cap = 3, threshold = 0.5)), (10, 5))
    val s4 = Dedup.weightedSets(d4, "doc_id", "text", 3, 3)
    assertAtMost("weightedJaccard hash", jobs(Dedup.ppjoin(s4, None, jaccard = true,
      threshold = 0.5, maxTokenDf = 100000L, twoTierAt = 0L)), (19, 8))
    assertAtMost("containment string", jobs(Dedup.containmentNearDupReleasable(
      d5, "doc_id", "text", shingleN = 3, threshold = 0.8)), (6, 5))
    val s6 = Dedup.shingleSets(d6, "doc_id", "text", 3)
    assertAtMost("containment hash", jobs {
      val (pairs, release) = Dedup.ppjoin(s6, None, jaccard = false,
        threshold = 0.8, maxTokenDf = 100000L, twoTierAt = 0L)
      (pairs.distinct(), release)
    }, (15, 8))
    val (eager, call) = JobTrace(sc)(Dedup.containmentNearDup(
      d7, "doc_id", "text", shingleN = 3, threshold = 0.8))
    val (_, counted) = JobTrace(sc)(eager.count())
    assertAtMost("containmentNearDup", (call.jobs, counted.jobs), (10, 2))
  }

  test("frozen-reference calls: freeze, then one batch at each tier") {
    def split(): (DataFrame, DataFrame) = {
      val d = docs()
      (d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 3 === 0))
    }
    for ((tier, bound) <- Seq("string" -> 13, "hash" -> 26)) {
      val (corpus, reference) = split()
      val batchSets = Dedup.shingleSets(corpus, "doc_id", "text", 3)
      val (frozen, froze) = JobTrace(sc)(
        Dedup.freezeContainmentReference(reference, "doc_id", "text"))
      assertAtMost("freezeContainmentReference", (froze.jobs, 0), (10, 0))
      val (admitted, call) = JobTrace(sc) {
        if (tier == "string") Dedup.containmentAgainstFrozen(corpus, frozen)
        else {
          val (contained, release) = Dedup.ppjoin(batchSets, Some(frozen),
            jaccard = false, threshold = 0.8, maxTokenDf = frozen.maxTokenDf,
            twoTierAt = 0L)
          val out = corpus.join(contained.select(col("id_a").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti").persist()
          out.count()
          release()
          out
        }
      }
      assertAtMost(s"containmentAgainstFrozen $tier", (call.jobs, 0), (bound, 0))
      admitted.unpersist()
      frozen.release()
    }
    val (corpus, reference) = split()
    val (admitted, call) = JobTrace(sc)(
      Dedup.containmentAgainst(corpus, reference, "doc_id", "text"))
    assertAtMost("containmentAgainst", (call.jobs, 0), (23, 0))
    admitted.unpersist()
  }
}
