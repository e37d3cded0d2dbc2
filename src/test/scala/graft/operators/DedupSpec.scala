package graft.operators

import graft.flow.SparkTestSession
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def corpus = {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val nearDup = base.replace("tonight", "today") // 1-word edit
    val other = "completely different content about spark query engines and distributed joins"
    Seq(
      (0L, base), (1L, nearDup), (2L, other),
      (3L, base), // exact dup of 0
      (4L, "tiny doc"), (5L, "another unrelated piece of text entirely here")
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps min-id survivor per distinct text") {
    val out = Dedup.exact(corpus, "doc_id", "text")
    assert(out.count() == 5)
    assert(!out.select("doc_id").as[Long].collect().contains(3L))
  }

  test("minhash LSH finds planted near-duplicate and exact dup, not unrelated docs") {
    val pairs = Dedup.minhashNearDup(corpus, "doc_id", "text",
      numHashes = 64, bands = 32, shingleN = 2, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // exact dup: jaccard 1.0
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated stays out
  }

  test("minhash signatures are deterministic under a fixed seed") {
    val sig = TextFunctions.minhashSignature(
      TextFunctions.shingles(col("text"), 3), numHashes = 16, seed = 7L)
    val a = corpus.select(sig.as("s")).as[Seq[Long]].collect()
    val b = corpus.select(sig.as("s")).as[Seq[Long]].collect()
    assert(a.toSeq == b.toSeq)
  }

  test("ngram-jaccard near-dup equals the brute-force O(n²) answer " +
    "(LSH is blocking only — q_ngram_jaccard's oracle contract)") {
    val docs = graft.sources.Tables
      .documents(spark, "/root/testdata/sf0.001")
    val got = Dedup.ngramJaccardNearDup(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sh = TextFunctions.shingles(col("text"), 3)
    val g = docs.select(col("doc_id"), sh.as("sh"))
    val want = g.as("a").join(g.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(TextFunctions.jaccard(col("a.sh"), col("b.sh")) >= 0.5)
      .select(col("a.doc_id"), col("b.doc_id")).as[(Long, Long)]
      .collect().toSet
    assert(got == want, s"LSH-blocked=${got.size} brute=${want.size}")
    assert(want.nonEmpty) // fixture plants near-dups — the test must bite
  }

  test("simhash near-dup finds the one-word edit within small hamming distance") {
    val pairs = Dedup.simhashNearDup(corpus, "doc_id", "text",
      maxHamming = 16, chunks = 32)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // identical → hamming 0
    assert(pairs.contains((0L, 1L))) // near dup → few bits
  }

  test("near-dup clusters: transitive pairs collapse to one component") {
    import org.apache.spark.sql.functions.col
    // A~B, B~C (not A~C directly), D~E: two clusters expected
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(3L) == 1L)
    assert(clusters(10L) == 10L && clusters(11L) == 10L)
  }

  test("nearDupClusters throws rather than returning unconverged labels") {
    // a 6-node path needs several propagation rounds; cap at 1 → must
    // fail (maxLocalPairs = 0 forces the distributed loop under test)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.nearDupClusters(pairs, maxRounds = 1, maxLocalPairs = 0L)
    }
  }

  test("driver union-find fast path agrees with the distributed loop") {
    // long chain + star + isolated pair, shuffled edge order
    val edges = Seq(
      (5L, 4L), (2L, 3L), (1L, 2L), (3L, 4L), // chain 1..5 out of order
      (20L, 25L), (20L, 21L), (22L, 20L),     // star rooted at 20
      (40L, 41L))
    val pairs = edges.toDF("id_a", "id_b")
    val local = Dedup.nearDupClusters(pairs).as[(Long, Long)].collect().toMap
    val dist = Dedup.nearDupClusters(pairs, maxLocalPairs = 0L)
      .as[(Long, Long)].collect().toMap
    assert(local == dist)
    assert(local(5L) == 1L && local(25L) == 20L && local(41L) == 40L)
  }

  test("union-find fast path handles string ids (min = lexicographic)") {
    val pairs = Seq(("docB", "docA"), ("docC", "docB")).toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(pairs).as[(String, String)].collect().toMap
    assert(clusters == Map("docA" -> "docA", "docB" -> "docA", "docC" -> "docA"))
  }

  test("dedupNear keeps one survivor per near-dup cluster and all unique docs") {
    val out = Dedup.dedupNear(corpus, "doc_id", "text",
      threshold = 0.5, numHashes = 64, bands = 32, shingleN = 2)
      .select("doc_id").as[Long].collect().toSet
    // docs 0,1,3 are one near-dup cluster → survivor 0; 2,4,5 unique
    assert(out == Set(0L, 2L, 4L, 5L))
  }

  test("dedupNearExact agrees with dedupNear's survivor set and carries " +
    "no hash-probability term (PPJoin pair graph)") {
    val exact = Dedup.dedupNearExact(corpus, "doc_id", "text",
      threshold = 0.5, shingleN = 2)
      .select("doc_id").as[Long].collect().toSet
    // same clusters as the minhash path on this corpus: {0,1,3} → 0
    assert(exact == Set(0L, 2L, 4L, 5L))
    // exact-path determinism: survivors are a pure function of the data,
    // so a second invocation is identical (no seed, no banding)
    val again = Dedup.dedupNearExact(corpus, "doc_id", "text",
      threshold = 0.5, shingleN = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(again == exact)
  }

  test("embedding near-dup buckets similar vectors together and verifies cosine") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.1f)),
      (1L, Array(0.99f, 0.01f, 0.0f, 0.1f)), // ~same direction as 0
      (2L, Array(-1.0f, 0.5f, 0.2f, -0.3f))  // far away
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(vecs, "vec_id", "embedding",
      threshold = 0.99, planes = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("weightedJaccardNearDup scores repetition mass the set-semantic " +
    "family is blind to, and equals it when every shingle is unique") {
    val phrase = "free prize click here now"
    val docs = Seq(
      // 0 and 1: the SAME template phrase, repeated 8x vs 1x + enough
      // distinct filler that set-Jaccard still sees most shingles shared
      (0L, Seq.fill(8)(phrase).mkString(" ")),
      (1L, phrase + " with unrelated trailing filler words"),
      // 2 and 3: a genuinely near-identical pair with unique shingles
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
      .toDF("doc_id", "text")
    def pairs(f: => org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      f.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().map(t => (t._1, t._2) -> t._3).toMap
    val set = pairs(Dedup.prefixJaccardNearDup(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.1))
    val wtd = pairs(Dedup.weightedJaccardNearDup(docs, "doc_id", "text",
      shingleN = 3, cap = 3, threshold = 0.1))
    // the repeated-template pair: set-semantic similarity is high (the
    // repeats add no new shingles), weighted similarity is much lower
    // (doc 0's repetition mass has no counterpart in doc 1)
    assert(!set.contains((0L, 2L))) // sanity: no cross-noise pair
    assert(set((0L, 1L)) >= 2 * wtd((0L, 1L)),
      s"set=${set((0L, 1L))} weighted=${wtd((0L, 1L))}")
    // every shingle unique (tf == 1 everywhere) → the two measures agree
    assert(math.abs(set((2L, 3L)) - wtd((2L, 3L))) < 1e-9)
  }

  test("containmentNearDup finds the short-doc-inside-long-doc pairs the " +
    "symmetric Jaccard family structurally misses, directionally") {
    val quote = "to be or not to be that is the question"
    val page = ("a long page of framing commentary that quotes the bard "
      + quote + " and then discusses the passage at length with many more words "
      + "about elizabethan drama and the human condition in general terms")
    val docs = Seq(
      (0L, quote),                                // contained in 1
      (1L, page),                                 // the container
      (2L, "completely unrelated text about spark shuffle partitioning"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentNearDup(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.8)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    // direction matters: the quote is contained in the page (C = 1.0),
    // the page is NOT contained in the quote
    assert(cont.keySet == Set((0L, 1L)), s"got $cont")
    assert(cont((0L, 1L)) == 1.0)
    // the same pair is invisible to symmetric Jaccard at any useful
    // threshold (|A∩B|/|A∪B| = |A|/|B| here)
    val jac = Dedup.prefixJaccardNearDup(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((0L, 1L)))
  }

  test("nearDupClusters self-persists an uncached pair plan and leaves " +
    "a caller-persisted one alone") {
    import org.apache.spark.storage.StorageLevel
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    // uncached input: computed once (persisted internally), released after
    val out = Dedup.nearDupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    assert(pairs.storageLevel == StorageLevel.NONE)
    // caller-persisted input: NOT unpersisted behind the caller's back
    val cached = pairs.persist()
    cached.count()
    Dedup.nearDupClusters(cached).collect()
    assert(cached.storageLevel != StorageLevel.NONE)
    cached.unpersist()
  }

  test("dedupAgainst drops corpus docs near-duplicated in the reference, " +
    "keeps the rest, and never touches the reference") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val ref = Seq(
      (100L, base),
      (101L, "reference-only material on columnar storage and encodings"))
      .toDF("doc_id", "text")
    val corp = Seq(
      (0L, base.replace("tonight", "today")), // near-dup of ref 100
      (1L, base),                             // exact dup of ref 100
      (2L, "novel corpus document about watermarking streaming state"),
      (3L, "reference-only material on columnar storage and encodings"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupAgainst(corp, ref, "doc_id", "text",
      shingleN = 2, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L), s"kept $kept")
    // corpus-internal near-dups are NOT removed: docs 0 and 1 dropped
    // for matching the reference, not each other — rerun with a
    // reference that matches neither and both survive despite being
    // mutual near-dups
    val keptAll = Dedup.dedupAgainst(corp.filter($"doc_id" < 2),
      ref.filter($"doc_id" === 101L), "doc_id", "text",
      shingleN = 2, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptAll == Seq(0L, 1L), s"kept $keptAll")
  }

  test("prefixJaccardNearDup finds the identical pair set as the LSH path on fixture docs") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaPrefix = pairs(Dedup.prefixJaccardNearDup(
      docs, "doc_id", "text", shingleN = 3, threshold = 0.5))
    val viaLsh = pairs(Dedup.ngramJaccardNearDup(
      docs, "doc_id", "text", shingleN = 3, threshold = 0.5))
    assert(viaPrefix == viaLsh && viaPrefix.nonEmpty,
      s"prefix ${viaPrefix.size} pairs != LSH ${viaLsh.size}")
  }

  test("prefixJaccardNearDup matches a brute-force Jaccard join on synthetic docs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),   // near-dup of 1
      (3L, "one two three four five six seven"),
      (4L, "one two three four five six eight"),    // near-dup of 3
      (5L, "totally different content here now"),
      (6L, "short doc"),
      (7L, "short doc"))                            // exact dup of 6
      .toDF("doc_id", "text")
    val got = Dedup.prefixJaccardNearDup(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over distinct 3-gram sets
    def grams(t: String): Set[String] = {
      val w = t.split("\\s+").toSeq
      if (w.length <= 3) Set(w.mkString(" "))
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val all = docs.collect().map(r => (r.getLong(0), grams(r.getString(1))))
    val want = (for {
      (ia, sa) <- all; (ib, sb) <- all if ia < ib
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= 0.5
    } yield (ia, ib)).toSet
    assert(got == want && want.contains((6L, 7L)), s"got $got want $want")
  }

  test("prefixJaccardNearDup throws loudly on a hot prefix shingle instead of capping") {
    val clones = (1L to 40L).map(i => (i, "the same exact boilerplate text everywhere"))
      .toDF("doc_id", "text")
    // The guard rides the PPJoin core's eager prefix aggregate, so it
    // fires inside the call, before any action.
    val e = intercept[Throwable] {
      Dedup.prefixJaccardNearDup(clones, "doc_id", "text",
        shingleN = 3, threshold = 0.5, maxTokenDf = 10L).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("exact dedup first")),
      s"guard message missing from ${chain(e)}")
  }

  test("containmentNearDup's hot-shingle guard is EAGER: it throws at " +
    "operator construction, so even a partial action cannot bypass it") {
    val clones = (1L to 40L).map(i => (i, "the same exact boilerplate text everywhere"))
      .toDF("doc_id", "text")
    // r15's fused raise_error guard fired per-PARTITION at
    // materialization — a take(1)/limit that stopped before the hot
    // partition executed could return rows unguarded (VERDICT r15 item
    // 4). The guard now rides the cache-materialization aggregate inside
    // the operator CALL itself: the exception surfaces before any frame
    // exists for a caller to take(1) on.
    val e = intercept[Throwable] {
      Dedup.containmentNearDup(clones, "doc_id", "text",
        shingleN = 3, threshold = 0.8, maxTokenDf = 10L)
      // NOTE: no action — construction alone must raise
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("exact dedup first")),
      s"guard message missing from ${chain(e)}")
  }

  test("containment verify strategies are interchangeable: the two-tier " +
    "hash-prefilter path returns byte-identical pairs to the one-tier " +
    "string verify on the fixture corpus") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    def run(strategy: String): Set[(Long, Long, Double)] = {
      val (res, release) = Dedup.ppjoin(
        Dedup.shingleSets(docs, "doc_id", "text", shingleN = 3), None,
        jaccard = false, threshold = 0.8, maxTokenDf = 100000L,
        twoTierAt = if (strategy == "hash") 0L else Long.MaxValue)
      val got = res.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      release()
      got
    }
    val viaString = run("string")
    val viaHash = run("hash")
    assert(viaString == viaHash,
      s"strategy drift: onlyString=${viaString -- viaHash} " +
        s"onlyHash=${viaHash -- viaString}")
    assert(viaString.nonEmpty, "fixture must produce containment pairs")
  }

  test("prefix and weighted Jaccard verify tiers are interchangeable: the " +
    "forced hash tier returns byte-identical pairs to the string verify") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    for ((name, sets) <- Seq(
        "prefix" -> Dedup.shingleSets(docs, "doc_id", "text", 3),
        "weighted" -> Dedup.weightedSets(docs, "doc_id", "text", 3, 3))) {
      def run(twoTierAt: Long): Set[(Long, Long, Double)] = {
        val (res, release) = Dedup.ppjoin(sets, None, jaccard = true,
          threshold = 0.5, maxTokenDf = 100000L, twoTierAt = twoTierAt)
        val got = res.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        release()
        got
      }
      val viaString = run(Long.MaxValue)
      val viaHash = run(0L)
      assert(viaString == viaHash,
        s"$name tier drift: onlyString=${viaString -- viaHash} " +
          s"onlyHash=${viaHash -- viaString}")
      assert(viaString.nonEmpty, s"$name: fixture must produce pairs")
    }
  }

  test("containmentNearDup's eager guard stays quiet on a cool corpus " +
    "and the result is unchanged by partial-then-full consumption") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "completely different words on this row here")
    ).toDF("doc_id", "text")
    val full = Dedup.containmentNearDup(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.8, maxTokenDf = 100L)
    val head = full.take(1) // partial action: must be guarded-safe now
    assert(head.nonEmpty)
    assert(full.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .contains((1L, 2L)))
  }

  // ------------------------------------------------------------------
  // r13 oracle-replayable variants: the JVM reference implementations
  // below are the same arithmetic the DuckDB oracle SQL spells out, so
  // agreement here is direct evidence of cross-engine replayability.
  // ------------------------------------------------------------------

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def refTokens(t: String): Seq[String] = t.split("\\s+").toSeq

  private def refShingles(t: String, n: Int): Seq[String] = {
    val w = refTokens(t)
    if (w.length <= n) Seq(w.mkString(" "))
    else w.sliding(n).map(_.mkString(" ")).toSeq
  }

  test("replayable minhash signature matches the driver-side md5 reference " +
    "(the arithmetic the DuckDB oracle replays)") {
    val p = TextFunctions.ReplayP
    val coefs = TextFunctions.replayCoefs(8)
    def refSig(t: String): Seq[Long] = {
      val xs = refShingles(t, 3)
        .map(s => java.lang.Long.parseLong(md5Hex(s).substring(0, 8), 16) % p)
      coefs.map { case (a, b) => xs.map(x => (x * a + b) % p).min }
    }
    val got = corpus.select(col("doc_id"),
      TextFunctions.minhashSignatureReplayable(
        TextFunctions.shingles(col("text"), 3), 8).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val want = corpus.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> refSig(t) }.toMap
    assert(got == want)
  }

  test("replayable simhash fingerprint matches the driver-side md5 reference") {
    def refFp(t: String): Long = {
      val votes = Array.fill(64)(0)
      refTokens(t).foreach { tok =>
        val hex = md5Hex(tok)
        val hi = java.lang.Long.parseLong(hex.substring(0, 8), 16)
        val lo = java.lang.Long.parseLong(hex.substring(8, 16), 16)
        for (j <- 0 until 64) {
          val half = if (j < 32) lo else hi
          votes(j) += (if (((half >> (j % 32)) & 1L) != 0) 1 else -1)
        }
      }
      (0 until 64).foldLeft(0L) { (acc, j) =>
        if (votes(j) > 0) acc | (1L << j) else acc
      }
    }
    val got = corpus.select(col("doc_id"),
      TextFunctions.simhash64Replayable(TextFunctions.tokens(col("text"))).as("fp"))
      .as[(Long, Long)].collect().toMap
    val want = corpus.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> refFp(t) }.toMap
    assert(got == want)
  }

  test("minhashNearDupReplayable finds planted near-dup and exact dup, " +
    "not unrelated docs") {
    val pairs = Dedup.minhashNearDupReplayable(corpus, "doc_id", "text",
      numHashes = 32, bands = 8, shingleN = 2, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)))
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("simhashNearDupReplayable equals brute-force hamming over replayable " +
    "fingerprints (the EXACT pair contract the oracle checks)") {
    val fp = corpus.select(col("doc_id"),
      TextFunctions.simhash64Replayable(TextFunctions.tokens(col("text"))).as("fp"))
    val brute = fp.as("a").join(fp.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        TextFunctions.hamming64(col("a.fp"), col("b.fp")).as("h"))
      .filter(col("h") <= 7)
      .as[(Long, Long, Int)].collect().toSet
    val got = Dedup.simhashNearDupReplayable(corpus, "doc_id", "text",
      maxHamming = 7, chunks = 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == brute)
    assert(got.exists(p => Set(p._1, p._2) == Set(0L, 3L))) // exact dup at hamming 0
  }

  test("large-star/small-star contraction loop matches the driver union-find " +
    "on a seeded random graph with hubs, chains and duplicate edges") {
    val rnd = new scala.util.Random(42)
    val parts = Seq.newBuilder[(Long, Long)]
    // 3 hubs with 40 spokes each
    for (h <- Seq(1000L, 2000L, 3000L); s <- 1 to 40)
      parts += ((h, h + s))
    // a 60-node chain linking into hub 1000's component
    parts += ((1000L, 500L))
    for (i <- 0 until 59) parts += ((500L + i, 501L + i))
    // 200 random edges over a 300-node id space (creates random merges)
    for (_ <- 1 to 200)
      parts += ((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
    // duplicate + reversed-duplicate noise, plus self-loops — including
    // an id (9007, outside the random id space) that appears ONLY as a
    // self-pair: both paths must emit its (id, id) row (r17 ADVICE —
    // the old parity test pre-filtered self-loops and masked a
    // divergence here)
    parts += ((1000L, 1001L)); parts += ((1001L, 1000L)); parts += ((7L, 7L))
    parts += ((9007L, 9007L)); parts += ((1000L, 1000L))
    val pairs = parts.result().toDF("id_a", "id_b")
    val local = Dedup.nearDupClusters(pairs).as[(Long, Long)].collect().toMap
    val dist = Dedup.nearDupClusters(pairs, maxLocalPairs = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist == local)
    // min-label contract: every cluster id is the min of its member set
    val byCluster = local.groupBy(_._2).view.mapValues(_.keys.min)
    byCluster.foreach { case (c, minId) => assert(c == minId) }
  }

  test("contraction loop converges on a 300-node path well inside default " +
    "maxRounds (the long-chain shape that defeats naive propagation)") {
    val pairs = (0 until 299).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    val dist = Dedup.nearDupClusters(pairs, maxLocalPairs = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist.size == 300)
    assert(dist.values.forall(_ == 0L))
  }

  test("contraction loop handles string ids and multiple components") {
    val pairs = Seq(("b", "a"), ("c", "b"), ("y", "z"))
      .toDF("id_a", "id_b")
    val dist = Dedup.nearDupClusters(pairs, maxLocalPairs = 0L)
      .as[(String, String)].collect().toMap
    assert(dist == Map("a" -> "a", "b" -> "a", "c" -> "a", "y" -> "y", "z" -> "y"))
  }

  // ---- the MinHash LSH core: bucket cap, null ids, empty input, parity

  /** `groups(k)` docs share one text, so they share a bucket in every
    * band; texts of different groups share no shingle. */
  private def capCorpus(groups: Seq[Seq[java.lang.Long]]) = {
    val rows = groups.zipWithIndex.flatMap { case (ids, g) =>
      val text = (0 until 12).map(w => s"g${g}w$w").mkString(" ")
      ids.map(id => (id, text))
    }
    rows.toDF("doc_id", "text")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b").as[(Long, Long)].collect().toSet

  private def allPairs(ids: Long*) =
    (for (a <- ids; b <- ids if a < b) yield (a, b)).toSet

  test("LSH core cap: buckets of 1, 2 and maxBucket members pair up, " +
    "a maxBucket + 1 bucket adds nothing, for both keyings") {
    val L = (x: Long) => java.lang.Long.valueOf(x)
    val docs = capCorpus(Seq(Seq(L(1)), Seq(L(2), L(3)),
      Seq(L(4), L(5), L(6), L(7)), Seq(L(8), L(9), L(10), L(11), L(12))))
    val want = allPairs(2, 3) ++ allPairs(4, 5, 6, 7)
    assert(pairSet(Dedup.minhashNearDup(docs, "doc_id", "text",
      numHashes = 32, bands = 8, maxBucket = 4)) == want)
    assert(pairSet(Dedup.minhashNearDupReplayable(docs, "doc_id", "text",
      numHashes = 32, bands = 8, maxBucket = 4)) == want)
    assert(pairSet(Dedup.minhashNearDup(docs, "doc_id", "text",
      numHashes = 32, bands = 8, maxBucket = 5)) == want ++ allPairs(8, 9, 10, 11, 12))
  }

  test("LSH core cap: null ids count toward the bucket size but never pair") {
    val L = (x: Long) => java.lang.Long.valueOf(x)
    val docs = capCorpus(Seq(
      Seq(L(50), L(51), null, null, null), // 5 rows: over a cap of 4
      Seq(L(60), L(61), null, null), // 4 rows: at the cap
      Seq(L(70), null))) // 2 rows, one id
    val want = allPairs(60, 61)
    assert(pairSet(Dedup.minhashNearDup(docs, "doc_id", "text",
      numHashes = 32, bands = 8, maxBucket = 4)) == want)
    assert(pairSet(Dedup.minhashNearDupReplayable(docs, "doc_id", "text",
      numHashes = 32, bands = 8, maxBucket = 4)) == want)
  }

  test("LSH core cap on hand-built band rows: an over-cap bucket adds no " +
    "pairs, but a pair it holds still appears when another band joins it") {
    val rows = Seq(
      (0, 7L, Seq[java.lang.Long](1L, 2L, 3L, 4L, 5L)), // 5 rows: over cap 4
      (1, 8L, Seq[java.lang.Long](1L, 2L)), // band 1 re-joins (1, 2)
      (1, 9L, Seq[java.lang.Long](3L)), // singleton
      (2, 10L, Seq[java.lang.Long](10L, 11L, 12L, 13L)), // exactly the cap
      (2, 11L, Seq[java.lang.Long](20L, 21L, null, null, null)), // nulls push it over
      (3, 12L, Seq[java.lang.Long](30L, null, null)) // one id: no pair
    ).flatMap { case (band, bucket, ids) => ids.map(id => (id, band, bucket)) }
      .toDF("graft_id", "band", "bucket")
      .select(col("graft_id"), struct(col("band"), col("bucket")).as("graft_band"))
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L, 13L, 20L, 21L, 30L)
      .map(id => (id, "same words for every doc")).toDF("doc_id", "text")
    val pairs = Dedup.lshSelfJoin(docs, "doc_id", "text", rows,
      shingleN = 3, threshold = 0.0, maxBucket = 4)
    assert(pairSet(pairs) == allPairs(1, 2) ++ allPairs(10, 11, 12, 13))
    pairs.unpersist()
  }

  test("LSH core: empty input returns no pairs for both keyings") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.minhashNearDup(empty, "doc_id", "text").count() == 0)
    assert(Dedup.minhashNearDupReplayable(empty, "doc_id", "text").count() == 0)
  }

  /** Order-free digest of a (id_a, id_b, jaccard) pair frame. */
  private def digest(df: org.apache.spark.sql.DataFrame): String = {
    val lines = df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().map { case (a, b, j) => s"$a,$b,$j" }.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
    s"${lines.length}:" + md.take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  test("LSH core parity: pair sets with Jaccard on the fixture documents " +
    "and a FixtureMorph seed equal the pre-core pipeline's, both keyings") {
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val inputs = Seq("sf0.001" -> base,
      "morph101" -> graft.FixtureMorph.documents(base, 101L))
    val got = inputs.flatMap { case (name, docs) => Seq(
      s"$name/xx" -> Dedup.minhashNearDup(docs, "doc_id", "text"),
      s"$name/xx-low" -> Dedup.minhashNearDup(docs, "doc_id", "text",
        numHashes = 128, bands = 64, threshold = 0.3, maxBucket = 3),
      s"$name/md5" -> Dedup.minhashNearDupReplayable(docs, "doc_id", "text"),
      s"$name/md5-low" -> Dedup.minhashNearDupReplayable(docs, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.3, maxBucket = 3))
    }.map { case (k, df) => k -> digest(df) }.toMap
    // captured from the band → cap → self-join pipeline this core replaced
    val want = Map(
      "sf0.001/xx" -> "28:2bbbfd6be3d68c39",
      "sf0.001/xx-low" -> "27:3e6fa7675d751ebc",
      "sf0.001/md5" -> "28:2bbbfd6be3d68c39",
      "sf0.001/md5-low" -> "22:3190185039f5a423",
      "morph101/xx" -> "27:dfa5eceee4c2d770",
      "morph101/xx-low" -> "27:9ef8c0bbef90541c",
      "morph101/md5" -> "27:dfa5eceee4c2d770",
      "morph101/md5-low" -> "24:0dfc58d6f7fd3c8d")
    assert(got == want)
  }
}
