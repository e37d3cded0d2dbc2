package graft

import graft.flow.SparkTestSession
import graft.functions.TextFunctions
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

case class Geo(lat: Double, lon: Double)
case class Place(id: Long, name: String, geo: Geo)

/** Property-based specs for the non-oracle operator set (SURVEY.md §5.2).
  * Raw ScalaCheck generators sampled under fixed seeds (the scalatest
  * bridge artifact isn't in the offline cache). */
class PropertiesSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val wordGen = Gen.nonEmptyListOf(Gen.oneOf(
    "spark", "query", "table", "join", "scan", "filter", "agg", "window",
    "row", "batch", "stream", "sort", "merge", "hash", "key", "value"))
    .map(_.mkString(" "))

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  test("property: exact dedup is idempotent and never loses distinct texts") {
    for (seed <- 1L to 5L) {
      val texts = sample(Gen.listOfN(20, wordGen), seed)
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val once = Dedup.exact(df, "doc_id", "text")
      val twice = Dedup.exact(once, "doc_id", "text")
      assert(once.count() == twice.count())
      assert(once.count() == df.select("text").distinct().count())
    }
  }

  test("property: chunking covers every token, in order, with no chunk " +
    "fully contained in its predecessor") {
    for (seed <- 1L to 8L) {
      val text = sample(wordGen, seed)
      val nToks = text.split(" ").length
      for ((ck, st) <- Seq((5, 3), (8, 8), (10, 4), (3, 1))) {
        val chunks = graft.operators.Chunker.chunk(
          Seq((0L, text)).toDF("doc_id", "text"), "doc_id", "text", ck, st)
          .orderBy("chunk_ix")
          .select("chunk").as[String].collect()
        // coverage in order: strided chunks reassemble to the document
        val rebuilt = (chunks.head +: chunks.tail.map(
          _.split(" ").drop(ck - st).mkString(" ")).filter(_.nonEmpty))
          .mkString(" ")
        assert(rebuilt == text,
          s"seed=$seed ck=$ck st=$st n=$nToks:\n$rebuilt\n$text")
        // the round-5 ADVICE bug: no chunk may end exactly where its
        // predecessor ended (fully-contained duplicate tail)
        val ends = chunks.zipWithIndex.map { case (c, i) =>
          i * st + c.split(" ").length }
        assert(ends.distinct.length == ends.length,
          s"duplicate-tail chunk at seed=$seed ck=$ck st=$st: $ends")
      }
    }
  }

  test("property: compaction preserves multiset content across random " +
    "file layouts") {
    for (seed <- 1L to 3L) {
      val texts = sample(Gen.listOfN(50, wordGen), seed)
      val nFiles = 1 + (seed * 7 % 20).toInt
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_prop_compact$seed").toString + "/d"
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("k", "v")
      df.repartition(nFiles).write.parquet(dir)
      val before = spark.read.parquet(dir)
        .agg(expr("bit_xor(xxhash64(k, v))"), count(lit(1)))
        .head()
      graft.operators.Compact.compactDir(spark, dir, targetFileBytes = 1L << 30)
      val after = graft.operators.CommitLog.read(spark, new org.apache.hadoop.fs.Path(dir)).get
        .agg(expr("bit_xor(xxhash64(k, v))"), count(lit(1)))
        .head()
      assert(before == after, s"seed=$seed nFiles=$nFiles")
    }
  }

  test("property: minhash signature agreement approximates Jaccard for identical docs") {
    for (seed <- 1L to 5L) {
      val text = sample(wordGen, seed)
      val df = Seq((0L, text), (1L, text)).toDF("doc_id", "text")
      val sigs = df.select(TextFunctions.minhashSignature(
        TextFunctions.shingles(col("text"), 2), 32).as("sig")).as[Seq[Long]].collect()
      assert(sigs(0) == sigs(1)) // jaccard 1 → all positions agree
    }
  }

  test("property: rolling hash stays within [0, mod) and is length-sensitive") {
    for (seed <- 1L to 5L) {
      val text = sample(wordGen, seed)
      val df = Seq(text, text + " x").toDF("text")
      val h = df.select(TextFunctions.rollingHash(col("text")).as("h")).as[Long].collect()
      assert(h.forall(v => v >= 0 && v < 1000000007L))
      assert(h(0) != h(1))
    }
  }

  test("hll approx_count_distinct lands within rsd of exact (non-oracle gate)") {
    val l = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.01")
    val (approx, exact) = l.agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("a"),
      countDistinct(col("l_partkey")).as("e"))
      .as[(Long, Long)].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.06)
  }

  test("sliding window covers each event window/slide times (non-oracle gate)") {
    val e = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val total = e.count()
    val windowed = graft.streaming.StreamOps.sliding(e, "ts", "1 hour", "15 minutes")(
      count(lit(1)).as("n"))
    assert(windowed.agg(sum("n")).as[Long].head() == total * 4)
  }

  test("nested case-class encoder flattens property trees like TypeAccessor (A16)") {
    val ds = Seq(Place(1, "a", Geo(1.5, 2.5)), Place(2, "b", Geo(3.0, 4.0))).toDS()
    // nested property path flattened to a column, reflection-free at runtime
    val flat = ds.select(col("id"), col("geo.lat").as("lat"), col("geo.lon").as("lon"))
    assert(flat.schema.fieldNames.toSeq == Seq("id", "lat", "lon"))
    assert(flat.filter(col("lat") === 1.5).count() == 1)
    // round-trip: flat relational rows re-nest into the typed view
    val back = flat.select(col("id"), lit("x").as("name"),
      struct(col("lat"), col("lon")).as("geo")).as[Place]
    assert(back.collect().map(_.geo.lat).sorted.toSeq == Seq(1.5, 3.0))
  }

  test("property: interval overlapJoin equals the naive theta join for " +
    "random interval sets and bucket widths") {
    val intervalGen = for {
      n <- Gen.choose(20, 60)
      iv <- Gen.listOfN(n, for {
        s <- Gen.choose(0L, 5000L)
        len <- Gen.oneOf(Gen.choose(0L, 20L), Gen.choose(0L, 2000L))
      } yield (s, s + len))
    } yield iv
    for (seed <- 1L to 5L) {
      val ls = sample(intervalGen, seed).zipWithIndex
        .map { case ((s, e), i) => (i.toLong, s, e) }
      val rs = sample(intervalGen, seed + 100).zipWithIndex
        .map { case ((s, e), i) => (i.toLong, s, e) }
      val width = sample(Gen.oneOf(7L, 64L, 1000L, 10000L), seed + 200)
      val got = graft.operators.IntervalJoin.overlapJoin(
          ls.toDF("lid", "ls", "le"), rs.toDF("rid", "rs", "re"),
          "ls", "le", "rs", "re", width)
        .select("lid", "rid").as[(Long, Long)].collect()
      val expect = (for {
        (li, s1, e1) <- ls; (ri, s2, e2) <- rs
        if s1 <= e2 && s2 <= e1
      } yield (li, ri)).toSet
      assert(got.length == got.toSet.size, s"seed=$seed w=$width: dup pairs")
      assert(got.toSet == expect, s"seed=$seed w=$width: pair set differs")
    }
  }

  test("property: deletion-neighborhood edit join equals brute-force " +
    "levenshtein for random word corpora, k in {1, 2}") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // short alphabet + short strings → dense near-pair space
    val wordsGen = Gen.listOfN(40,
      Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
        .map(_.mkString)))
    for (seed <- 1L to 3L; k <- Seq(1, 2)) {
      val rows = sample(wordsGen, seed).zipWithIndex
        .map { case (w, i) => (i.toLong, w) }
      val got = graft.operators.EditDistanceJoin.editPairs(
          rows.toDF("id", "s"), "id", "s", k)
        .as[(Long, Long, Int)].collect().toSet
      val expect = (for {
        (ia, sa) <- rows; (ib, sb) <- rows
        if ia < ib
        dd = lev(sa, sb) if dd <= k
      } yield (ia, ib, dd)).toSet
      assert(got == expect, s"seed=$seed k=$k differs")
    }
  }
}
