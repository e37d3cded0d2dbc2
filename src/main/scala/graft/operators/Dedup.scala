package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{SortedIntersectSize, SortedLongIntersectSize}

/** Deduplication operators for corpus pipelines (BASELINE.json
  * north_star): exact, MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup. The MinHash self-joins share one LSH core
  * ([[Dedup.lshSelfJoin]]); the exact set-similarity joins — prefix and
  * weighted Jaccard, containment within a corpus and against a frozen
  * reference — share one PPJoin core ([[Dedup.ppjoin]]).
  *
  * Scale design (100 TB):
  *  - Nothing ever materializes the O(n²) pair space. Candidates come from
  *    LSH bucket joins; only bucket-mates are compared exactly.
  *  - Shuffle keys are fixed-width hashes (8–16 bytes), never document
  *    bodies.
  *  - Hot buckets (boilerplate shingles, empty docs) are capped: buckets
  *    larger than `maxBucket` are dropped from candidacy — standard LSH
  *    practice, and the skew guard that keeps one pathological key from
  *    stalling a 1000-executor join. The MinHash self-join paths apply
  *    the cap inside their one (band, bucket) aggregate (`lshSelfJoin`),
  *    which never buffers more than `maxBucket` ids per bucket.
  */
object Dedup {

  /** Exact dedup with deterministic survivor: keeps the min-id row per
    * distinct value of `textCol`, grouped on an md5 fingerprint. One
    * aggregation — `min_by` carries the whole winning row — instead of
    * the groupBy + join-back formulation (which pays a second full-row
    * shuffle for the join). Requires `idCol` to be unique (which is what
    * makes the survivor deterministic in either formulation). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cols = df.columns
    df.groupBy(md5(col(textCol)).as("graft_fp"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("graft_row"))
      .select(cols.map(c => col(s"graft_row.$c").as(c)): _*)
  }

  /** Candidate near-duplicate pairs via MinHash + LSH banding, verified
    * with exact shingle-set Jaccard.
    *
    * Pipeline: fused text→signature scan (one codegen'd pass per doc, no
    * shingle materialization — see MinHashTextSig) → band into `bands`
    * buckets → the one capped bucket aggregate of [[lshSelfJoin]] →
    * exact Jaccard verify, with shingles recomputed ONLY for candidate
    * pairs. At 100 TB the full-corpus pass therefore reads text and
    * emits k longs per doc; the shingle arrays exist only for the (tiny)
    * candidate set. Returns (idA, idB, jaccard) with idA < idB,
    * jaccard ≥ threshold.
    *
    * Caching: the call runs EAGERLY and returns the verified pair frame
    * persisted and materialized, owned by the caller — unpersist it
    * once everything derived from it has materialized. Its internal
    * caches (candidate pairs, candidate shingles) are released before it
    * returns, so nothing else stays behind in the session.
    */
  def minhashNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      seed: Long = 42L,
      maxBucket: Int = 1000): DataFrame = {
    // separate projection: graft_sig is referenced `bands` times by
    // bandKeys' slices, so CollapseProject keeps it — the signature
    // kernel runs once per row, not once per band
    val banded = df
      .select(
        col(idCol).as("graft_id"),
        minhashTextSignature(col(textCol), shingleN, numHashes, seed).as("graft_sig"))
      .select(col("graft_id"),
        explode(bandKeys(col("graft_sig"), bands, numHashes)).as("graft_band"))
    lshSelfJoin(df, idCol, textCol, banded, shingleN, threshold, maxBucket)
  }

  /** The LSH self-join core shared by [[minhashNearDup]] and
    * [[minhashNearDupReplayableReleasable]], which differ only in how
    * `banded` (graft_id, graft_band: struct<band, bucket>) is keyed.
    *
    *  - ONE exchange over the band rows: a group-by on (band, bucket)
    *    whose [[org.apache.spark.sql.graft.CappedIdsAgg]] applies the
    *    skew guard — buckets of fewer than 2 or more than `maxBucket`
    *    ROWS (null ids count) are dropped, never buffered whole — and
    *    hands back the bucket's sorted ids, from which the
    *    id_a < id_b pairs are generated in the same pass.
    *  - The distinct candidate pairs are materialized ONCE; the exact
    *    verify recomputes shingles for candidate docs only.
    *  - Eager and caller-owned: the verified pairs come back persisted
    *    and materialized, the internal caches already released (the
    *    [[dedupAgainstFrozen]] convention).
    */
  private[graft] def lshSelfJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      banded: DataFrame,
      shingleN: Int,
      threshold: Double,
      maxBucket: Int): DataFrame = {
    val candidates = banded
      .groupBy(col("graft_band.band"), col("graft_band.bucket"))
      .agg(org.apache.spark.sql.graft.CappedIdsAgg
        .cappedIds(col("graft_id"), maxBucket).as("graft_ids"))
      .select(col("graft_ids"), posexplode(col("graft_ids")).as(Seq("graft_pos", "id_a")))
      .select(col("id_a"), explode(slice(col("graft_ids"), col("graft_pos") + 2,
        size(col("graft_ids")) - col("graft_pos") - 1)).as("id_b"))
      .distinct()
      .persist()
    candidates.count()
    // Exact verify: shingles are recomputed for candidate DOCS only. The
    // semi-join against candidate ids sits BELOW the shingle projection,
    // so the expensive shingling touches the few docs that reached
    // candidacy, never the corpus; persisting the (small) result keeps the
    // two pair-join branches from re-running it.
    val candIds = candidates.select(col("id_a").as(idCol))
      .unionByName(candidates.select(col("id_b").as(idCol)))
      .distinct()
    val candShingles = df.select(col(idCol), col(textCol))
      .join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol).as("graft_id"), sort_array(array_distinct(shingles(col(textCol), shingleN))).as("graft_sh"))
      .persist()
    val pairs = candidates
      .join(candShingles.select(col("graft_id").as("id_a"), col("graft_sh").as("sh_a")), "id_a")
      .join(candShingles.select(col("graft_id").as("id_b"), col("graft_sh").as("sh_b")), "id_b")
      // sorted-distinct arrays -> merge-walk jaccard (bit-equal to the
      // set-semantic jaccard(); IntersectSizeSpec + DedupSpec parity)
      .withColumn("jaccard", jaccardSortedDistinct(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .persist()
    pairs.count()
    candidates.unpersist()
    candShingles.unpersist()
    pairs
  }

  /** ORACLE-REPLAYABLE [[minhashNearDup]] (r13 promotion pattern): the
    * same LSH core — signature, band keys, capped buckets, pairs, exact
    * Jaccard verify — but keyed entirely by stages DuckDB SQL replays
    * bit-identically:
    *
    *  - base hash per shingle = 32-bit md5 prefix
    *    ([[graft.functions.TextFunctions.md5Base32]]);
    *  - permutations h_i(x) = (a_i·x + b_i) mod (2³¹−1) with md5-derived
    *    literal coefficients — exact int64, no overflow, no float;
    *  - band key = the band's signature VALUE slice itself (no second
    *    hash), grouped on array equality;
    *  - hot-bucket cap replayed as HAVING COUNT(*) BETWEEN 2 AND max.
    *
    * The candidate set is therefore a deterministic pure function of the
    * corpus both engines compute identically, and the verify applies the
    * exact shingle Jaccard at the round-4 parity point — which is what
    * lets q_minhash_pairs graduate from rows-only to hash-gated. Same
    * 100 TB shape as the production path: one capped band aggregate,
    * shingles recomputed for candidate docs only. The fused xxhash64
    * kernel ([[minhashNearDup]]) stays the throughput path. Eager and
    * caller-owned like [[minhashNearDup]]. */
  def minhashNearDupReplayable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      bands: Int = 8,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxBucket: Int = 1000): DataFrame =
    minhashNearDupReplayableReleasable(
      df, idCol, textCol, numHashes, bands, shingleN, threshold, maxBucket)._1

  /** [[minhashNearDupReplayable]] plus a release handle for the one
    * cache the call leaves behind: its returned pair frame, persisted and
    * materialized before the call returns (the internal signature and
    * shingle caches are already gone by then). `release()` unpersists
    * it — a long-lived session churning many corpora calls it per corpus
    * once everything derived from the pairs has materialized, or storage
    * memory grows without bound (PpjoinReleaseSpec measures the return
    * to baseline). */
  def minhashNearDupReplayableReleasable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      bands: Int = 8,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxBucket: Int = 1000): (DataFrame, () => Unit) = {
    require(numHashes % bands == 0, s"numHashes=$numHashes not divisible by bands=$bands")
    val rows = numHashes / bands
    // Engine-side evaluation is the fused native kernel (one md5 per
    // shingle + k multiply-add-mods, whole-stage codegen) — bit-identical
    // to the composed minhashSignatureReplayable(shingles(...)) form the
    // oracle SQL replays; parity pinned in Md5KernelParitySpec.
    val banded = df
      .select(
        col(idCol).as("graft_id"),
        org.apache.spark.sql.graft.Md5Expressions
          .md5MinhashText(col(textCol), shingleN, numHashes)
          .as("graft_sig"))
      .select(col("graft_id"), explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          slice(col("graft_sig"), b * rows + 1, rows).as("bucket"))
      }: _*)).as("graft_band"))
    val pairs = lshSelfJoin(df, idCol, textCol, banded, shingleN, threshold, maxBucket)
    (pairs, () => { pairs.unpersist(); () })
  }

  /** Cross-corpus near-dup filter: the rows of `corpus` with NO
    * near-duplicate in `reference` (exact n-gram Jaccard ≥ `threshold`,
    * LSH-blocked candidates — same kernel and coverage math as
    * [[ngramJaccardNearDup]]). The reference is NOT deduped internally
    * and is never modified: this is "dedup the new crawl against the
    * training set", "drop docs already covered by last month's corpus" —
    * the batch complement of the streaming admission store, where the
    * reference is everything already admitted.
    *
    * Shape at 100 TB: both sides run the fused one-pass text→signature
    * kernel; the bucket join carries band keys only, never text; hot
    * buckets are capped on BOTH sides (a boilerplate bucket in either
    * corpus must not cross-join the other side wholesale — ≤ maxBucket²
    * candidate pairs per bucket, the same bound as the self-join path);
    * exact shingle verification touches only docs that reached
    * candidacy; the final filter is a left_anti on ids.
    */
  def dedupAgainst(
      corpus: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      numHashes: Int = 128,
      bands: Int = 64,
      seed: Long = 42L,
      maxBucket: Int = 1000): DataFrame =
    dedupAgainstReleasable(corpus, reference, idCol, textCol, shingleN,
      threshold, numHashes, bands, seed, maxBucket)._1

  /** [[dedupAgainst]] plus an explicit release handle for its one
    * internal cache (the candidate-pair frame, consumed by both
    * semi-join prunes and the verify join) — the
    * [[prefixJaccardNearDupReleasable]] contract: retention is the
    * right default for repeated queries over one corpus pair; long
    * multi-corpus sessions release per pair. Call release() only after
    * the returned plan has materialized. */
  def dedupAgainstReleasable(
      corpus: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      numHashes: Int = 128,
      bands: Int = 64,
      seed: Long = 42L,
      maxBucket: Int = 1000): (DataFrame, () => Unit) = {
    // Bucket cap as a WINDOW count (r19 — the spelling the MinHash
    // self-join then used, per the r18 advice): the previous groupBy + semi-join cap
    // consumed each side's banded pipeline TWICE, which is why r18-opt
    // persisted the signature frames — persists that then leaked with no
    // release handle. The window spelling scans each side's 128-hash
    // signature pipeline exactly ONCE (one exchange on (band, bucket)),
    // so the signature caches are simply unnecessary: no double compute,
    // nothing retained. Identical surviving-row set — count over the
    // (band, bucket) partition ≤ maxBucket is the same predicate the
    // grouped HAVING expressed. The cross join below is keyed on the
    // same (band, bucket), reusing the window exchange's partitioning.
    val bucketWin = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
    def cappedBands(df: DataFrame) = df
      .select(
        col(idCol).as("graft_id"),
        // separate projection: graft_sig is referenced `bands` times by
        // bandKeys' slices, so CollapseProject keeps it — the 128-hash
        // kernel runs once per row, not once per band
        minhashTextSignature(col(textCol), shingleN, numHashes, seed)
          .as("graft_sig"))
      .select(col("graft_id"),
        explode(bandKeys(col("graft_sig"), bands, numHashes)).as("graft_band"))
      .select(col("graft_id"), col("graft_band.band"), col("graft_band.bucket"))
      .withColumn("graft_n", count(lit(1)).over(bucketWin))
      .filter(col("graft_n") <= maxBucket)
      .drop("graft_n")
    val bc = cappedBands(corpus)
    val br = cappedBands(reference)
      .select(col("graft_id").as("ref_id"), col("band"), col("bucket"))
    val candidates = bc.join(br, Seq("band", "bucket"))
      .select(col("graft_id").as("cand_id"), col("ref_id")).distinct()
      .persist()

    val dupIds = verifiedDupIds(candidates, corpus, reference, idCol, textCol,
      shingleN, threshold)
    (corpus.join(dupIds, Seq(idCol), "left_anti"),
      () => { candidates.unpersist(); () })
  }

  /** The exact-verify tail of [[dedupAgainstReleasable]] and
    * [[dedupAgainstFrozen]]: the `corpus` ids of the candidate pairs
    * (cand_id, ref_id) whose shingle Jaccard reaches `threshold`. Shingles
    * are recomputed for candidate docs only, never either whole corpus. */
  private def verifiedDupIds(
      candidates: DataFrame,
      corpus: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      threshold: Double): DataFrame = {
    def candSets(side: DataFrame, id: String, sh: String) = side
      .join(candidates.select(col(id).as(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col(idCol).as(id),
        sort_array(array_distinct(shingles(col(textCol), shingleN))).as(sh))
    candidates
      .join(candSets(corpus, "cand_id", "sh_c"), "cand_id")
      .join(candSets(reference, "ref_id", "sh_r"), "ref_id")
      .withColumn("graft_j", jaccardSortedDistinct(col("sh_c"), col("sh_r")))
      .filter(col("graft_j") >= threshold)
      .select(col("cand_id").as(idCol)).distinct()
  }

  /** Frozen-reference handle for streaming/incremental [[dedupAgainst]]:
    * the reference corpus' capped LSH band keys, fingerprinted ONCE and
    * persisted, plus the reference frame itself for the exact-verify
    * fetch. `release()` drops the one persisted cache — the ONLY state
    * the incremental path holds, fixed at reference size (never grows
    * with the stream; the StreamingDedupAgainstSpec state gate). */
  final case class FrozenReference private[operators] (
      reference: DataFrame,
      refBands: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      numHashes: Int,
      bands: Int,
      seed: Long,
      release: () => Unit)

  /** Fingerprint and band a FROZEN reference corpus for incremental
    * cross-corpus dedup (VERDICT r14 item 7 — "gate the new crawl
    * against last month's corpus", arriving as a stream). Bands are
    * capped at `maxBucket` per (band, bucket) exactly like
    * [[dedupAgainst]]'s reference side, then persisted and materialized
    * eagerly so every micro-batch reuses one cache instead of
    * re-shingling the reference per trigger. */
  def freezeReference(
      reference: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 128,
      bands: Int = 64,
      seed: Long = 42L,
      maxBucket: Int = 1000): FrozenReference = {
    val banded = reference
      .select(
        col(idCol).as("ref_id"),
        minhashTextSignature(col(textCol), shingleN, numHashes, seed).as("graft_sig"))
      .select(col("ref_id"),
        explode(bandKeys(col("graft_sig"), bands, numHashes)).as("graft_band"))
      .select(col("ref_id"), col("graft_band.band"), col("graft_band.bucket"))
    // bucket cap as a WINDOW count, not groupBy + self-semi-join: the
    // semi-join spelling reads `banded` twice, re-running the full
    // reference minhash scan on each side before the cache exists —
    // exactly the "fingerprinted ONCE" promise this freeze makes
    // (review r15). One exchange, one scan.
    val bucketWin = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "bucket")
    val capped = banded
      .withColumn("graft_n", count(lit(1)).over(bucketWin))
      .filter(col("graft_n") <= maxBucket)
      .drop("graft_n")
      .persist()
    capped.count()
    FrozenReference(reference, capped, idCol, textCol, shingleN, numHashes,
      bands, seed, () => { capped.unpersist(); () })
  }

  /** One batch of corpus docs gated against a [[FrozenReference]]:
    * band-join candidates against the frozen bands, exact-verify 3-gram
    * Jaccard against only the candidate reference docs, anti-join. Each
    * doc's decision depends ONLY on (doc, reference) — no corpus-side
    * bucket cap here, on purpose: that cap is a whole-corpus skew guard
    * that would make admissions depend on batch boundaries, and the
    * micro-batch size already bounds the corpus side. Batches therefore
    * decompose EXACTLY: the union of per-batch outputs equals
    * [[dedupAgainst]] on the union whenever no union-side bucket
    * overflows the batch operator's corpus cap (the spec pins it).
    *
    * Returns a PERSISTED, materialized frame (internal candidate cache
    * already released) — callers unpersist it after their sink, the
    * [[graft.streaming.StreamOps.nearDupStream]] lifecycle shape. */
  def dedupAgainstFrozen(
      batch: DataFrame,
      frozen: FrozenReference,
      threshold: Double = 0.5): DataFrame = {
    import frozen.{idCol, textCol}
    val bandB = batch
      .select(
        col(idCol).as("cand_id"),
        minhashTextSignature(
          col(textCol), frozen.shingleN, frozen.numHashes, frozen.seed)
          .as("graft_sig"))
      .select(col("cand_id"),
        explode(bandKeys(col("graft_sig"), frozen.bands, frozen.numHashes))
          .as("graft_band"))
      .select(col("cand_id"), col("graft_band.band"), col("graft_band.bucket"))
    val candidates = bandB.join(frozen.refBands, Seq("band", "bucket"))
      .select(col("cand_id"), col("ref_id")).distinct()
      .persist()
    val dupIds = verifiedDupIds(candidates, batch, frozen.reference, idCol,
      textCol, frozen.shingleN, threshold)
    val admitted = batch.join(dupIds, Seq(idCol), "left_anti").persist()
    admitted.count()
    candidates.unpersist()
    admitted
  }

  /** Frozen-reference handle for streaming/incremental directional
    * containment ([[containmentAgainstFrozen]]) — the
    * [[FrozenReference]] sibling on the containment axis. State is the
    * reference's doc-packed sorted shingle sets, their tier-1 hash arrays
    * ([[hashSets]]) and the vocabulary-sized document frequencies, each
    * persisted ONCE — deliberately NOT the exploded token table (the r15
    * second-decade lesson: same bytes, ~1/100th the cached rows).
    * `release()` drops the caches; nothing else is held across batches. */
  final case class FrozenContainmentReference private[operators] (
      refSets: DataFrame,
      refDfs: DataFrame,
      refHsh: DataFrame,
      refInjective: Boolean,
      idCol: String,
      textCol: String,
      shingleN: Int,
      maxTokenDf: Long,
      release: () => Unit)

  /** Fingerprint a FROZEN reference corpus for incremental directional
    * containment: "drop any incoming doc mostly CONTAINED in last
    * month's corpus" — quotation/excerpt leakage the symmetric
    * [[dedupAgainstFrozen]] misses by construction (a short probe inside
    * a long reference doc has Jaccard ≈ |A|/|B| → 0). Shingle sets are
    * sorted, hashed and counted ONCE, eagerly, so every micro-batch
    * reuses the caches instead of re-shingling the reference per
    * trigger. */
  def freezeContainmentReference(
      reference: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      maxTokenDf: Long = 100000L): FrozenContainmentReference = {
    val caches = new Caches
    caches.onFailure {
      val refSets = caches.keep(shingleSets(reference, idCol, textCol, shingleN))
      val refDfs = caches.keep(refSets
        .select(explode(col("graft_sh")).as("graft_tok"))
        .groupBy("graft_tok")
        .agg(count(lit(1)).as("graft_df")))
      refDfs.count()
      val (refHsh, refInjective) = hashSets(refSets, caches)
      FrozenContainmentReference(refSets, refDfs, refHsh, refInjective,
        idCol, textCol, shingleN, maxTokenDf, () => caches.release())
    }
  }

  /** One batch of probe docs gated against a
    * [[FrozenContainmentReference]]: drop every doc A with
    * C(A→B) = |A∩B| / |A| ≥ threshold for SOME reference doc B — the
    * [[ppjoin]] core with the reference as the df source and posting
    * side. Its refusal is eager: it fires at CALL time from a
    * batch-sized aggregate, before any action.
    *
    * Per-doc decisions depend ONLY on (doc, reference) → batches
    * decompose EXACTLY: the union of per-batch admissions equals
    * [[containmentAgainst]] on the union, with no cap caveat
    * (ContainmentStreamSpec pins it). Returns a PERSISTED, materialized
    * frame — callers unpersist after their sink, the
    * [[dedupAgainstFrozen]] lifecycle shape. */
  def containmentAgainstFrozen(
      batch: DataFrame,
      frozen: FrozenContainmentReference,
      threshold: Double = 0.8): DataFrame = {
    import frozen.idCol
    val (contained, release) = ppjoin(
      shingleSets(batch, idCol, frozen.textCol, frozen.shingleN), Some(frozen),
      jaccard = false, threshold, frozen.maxTokenDf)
    try materialized(batch.join(
      contained.select(col("id_a").as(idCol)).distinct(), Seq(idCol), "left_anti"))
    finally release()
  }

  /** Batch cross-corpus directional containment: admit the corpus docs
    * NOT contained (C(A→B) ≥ threshold) in ANY reference doc — the
    * [[dedupAgainst]] sibling on the containment axis, and the
    * batch-union ground truth for
    * [[graft.streaming.StreamOps.containmentAgainstStream]]. */
  def containmentAgainst(
      corpus: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxTokenDf: Long = 100000L): DataFrame = {
    val frozen = freezeContainmentReference(
      reference, idCol, textCol, shingleN, maxTokenDf)
    // the returned frame is persisted+materialized by the frozen core,
    // so dropping the reference caches here is safe (recompute keeps a
    // valid lineage; it just stops being cached)
    try containmentAgainstFrozen(corpus, frozen, threshold)
    finally frozen.release()
  }

  /** Near-dup pairs via 64-bit SimHash: fingerprint, then the generic
    * hamming-banded pair join ([[hammingNearDupPairs]]).
    *
    * Fingerprints are persisted first: the simhash expression (64-wide
    * vote fold per token) would otherwise be recomputed per chunk and
    * per join side. Cache lives as long as the returned lazy plan —
    * long-lived sessions should spark.catalog.clearCache() between
    * unrelated corpora. */
  def simhashNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      chunks: Int = 0): DataFrame = {
    val fp = df.select(
      col(idCol).as("graft_id"),
      simhash64Fast(tokens(col(textCol))).as("graft_sh"))
      .persist()
    hammingNearDupPairs(fp, "graft_id", "graft_sh", maxHamming, chunks)
  }

  /** ORACLE-REPLAYABLE [[simhashNearDup]]: fingerprints from
    * [[graft.functions.TextFunctions.simhash64Replayable]] (per-token
    * md5 halves + exact integer vote sums — DuckDB rebuilds the same 64
    * bits), candidates through the SAME [[hammingNearDupPairs]]
    * multi-index join. Unlike the LSH paths, the pair CONTRACT here is
    * exact — multi-index hashing is a complete cover of hamming ≤ max
    * (pigeonhole), no recall term — so once the fingerprint is
    * replayable the whole output is: pairs = {hamming(fp_a, fp_b) ≤ max},
    * a pure function of the corpus. The oracle replays fingerprint AND
    * multi-index candidate algebra (the all-pairs formulation would be
    * O(n²) at sweep scale). xxhash64 [[simhashNearDup]] stays the
    * throughput path. */
  def simhashNearDupReplayable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      chunks: Int = 0): DataFrame =
    simhashNearDupReplayableReleasable(df, idCol, textCol, maxHamming, chunks)._1

  /** [[simhashNearDupReplayable]] plus an explicit release handle for the
    * fingerprint cache — the multi-corpus-session contract of
    * [[prefixJaccardNearDupReleasable]]. */
  def simhashNearDupReplayableReleasable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      chunks: Int = 0): (DataFrame, () => Unit) = {
    // fused native kernel (r19): bit-identical to
    // simhash64Replayable(tokens(text)) — Md5KernelParitySpec pins it —
    // at one md5 digest + two unrolled vote loops per token instead of
    // the interpreted HOF tree (two md5→hex→conv chains and a 64-wide
    // zip_with per token). The oracle SQL replays the same algebra.
    val fp = df.select(
      col(idCol).as("graft_id"),
      simhash64ReplayableText(col(textCol)).as("graft_sh"))
      .persist()
    (hammingNearDupPairs(fp, "graft_id", "graft_sh", maxHamming, chunks),
      () => { fp.unpersist(); () })
  }

  /** Minimal chunk count whose radius-1 multi-index cover is sound for
    * `maxHamming` (pigeonhole: some chunk pair within distance 1 needs
    * maxHamming < 2·chunks). Fewer chunks = exponentially wider band
    * keys (chunks=2 → 32-bit keys vs chunks=4 → 16-bit) at essentially
    * the same explode cost (chunks·(width+1) ≈ 64 + chunks rows either
    * way), so the widest sound layout dominates at every corpus size. */
  def autoChunks(maxHamming: Int): Int = {
    require(maxHamming >= 0 && maxHamming <= 64,
      s"maxHamming=$maxHamming out of range for 64-bit hashes")
    Seq(1, 2, 4, 8, 16, 32, 64).find(c => maxHamming < 2 * c).get
  }

  /** Hamming-near-dup pairs over ANY 64-bit hash column — SimHash, image
    * pHash, audio energy fingerprints (graft.multimodal) all feed this
    * one join. MULTI-INDEX HASHING (Norouzi et al., CVPR 2012 —
    * generalized pigeonhole): split the hash into `chunks` equal-width
    * bit chunks; if two hashes are within Hamming distance `maxHamming`,
    * SOME chunk pair is within per-chunk distance
    * r = ⌊maxHamming / chunks⌋ (if every chunk differed by ≥ r+1 the
    * total would exceed maxHamming). Candidates therefore come from an
    * equi-join on (chunk index, chunk value) where ONE side expands each
    * chunk value to its radius-r Hamming ball — short keys, never an
    * all-pairs compare; exact hamming re-checked on candidates; pair
    * dedup via distinct. `chunks = 0` (the default) = [[autoChunks]]:
    * the widest layout sound for `maxHamming`.
    *
    * Why the radius generalization matters at scale (measured, r13
    * sf1 sweep): the r = 0 special case forces chunks > maxHamming, and
    * at maxHamming = 7 that means 8-bit chunk keys — a 2048-value total
    * key space that SATURATES around 10⁴ docs, after which candidate
    * volume grows quadratically (28× time at 10× rows). With r = 1 the
    * same contract runs on 16-bit keys (4 × 65536 buckets) at the price
    * of a (width+1)-way key expansion on one join side — linear
    * candidate growth until ~10⁷ docs per band value. Radius ≤ 1 is
    * enforced: r = 2 would expand ×(1+w+w(w−1)/2) for marginal key
    * width; split the hash differently instead.
    *
    * DISTINCT-FIRST core (r18 — the fix for the r17 sf30 finding that
    * q_media_curate's banding shuffle grew 9.83× at 3× data): real
    * perceptual-hash corpora saturate their VALUE manifold — measured
    * on the image fixture, distinct dHash support grew 2.3k → 7.3k
    * while the corpus grew 10k → 100k, so identical-fingerprint classes
    * grow ∝ n and every banding bucket with them (candidates ∝ n²
    * regardless of key width — a property of the data, not the key
    * layout). The core therefore collapses identical hashes to one
    * representative per class FIRST (one linear shuffle), runs the
    * banded join over the SUPPORT only (intermediates stop growing once
    * the manifold saturates), and expands class members back at the
    * end. The expansion is exactly output-sized — when identical
    * fingerprints proliferate, the hamming ≤ max PAIR LIST is
    * inherently quadratic in the duplicated mass; consumers that only
    * need components should use [[hammingNearDupClusters]], which skips
    * the expansion entirely and stays support-sized + member-linear.
    *
    * `groupCols`: when set, pairs form ONLY within equal group values
    * (the columns must exist on `hashes`; ids must be unique within a
    * group), and the output carries one (id_a, id_b, hamming) row PER
    * GROUP the pair matches in — the aligned-frame video path keys
    * frames by (frame_idx) and counts agreement rows per video pair.
    * Pushing alignment into the band key beats post-filtering it: the
    * buckets themselves shrink by the group cardinality.
    *
    * DENSITY BOUND (the sizing rule a 100 TB run needs, measured in
    * the r18 sf30 sweep): with support s spread over the fixed
    * keyspace B = chunks·2^(64/chunks), the equal-chunk candidate
    * volume is ≥ chunks·(s/B)²·B/2 even for perfectly uniform
    * fingerprints — a birthday term, not skew. For DISTINCT corpora
    * (text SimHash: s ≈ n) at the widest radius-1-sound layout
    * (maxHamming 4–7 ⇒ chunks = 4, B = 2¹⁸), candidates grow ∝ n² / B:
    * measured 0.33 GB → 5.5 GB shuffle for 0.5M → 1.5M docs
    * (SCALE_r18_sf30.json), zero-spill and bucket-partitioned, crossing
    * typical per-doc pipeline cost only around ~10⁷ docs per corpus.
    * Beyond that, shard the corpus (pairs are exact within shards;
    * cross-shard recall needs a coarser pass) or cut the support first
    * (exact dedup; the corpus_curate ordering). `graft.BandAudit`
    * measures s, class structure and the exact per-layout candidate
    * volume for every fingerprint family on a real corpus — run it
    * before sizing a large job. Saturating families (perceptual hashes:
    * s ≪ n, measured image support 7.3k at n = 100k) never hit the
    * bound — the distinct-first core keeps their banding support-sized. */
  def hammingNearDupPairs(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      chunks: Int = 0,
      groupCols: Seq[String] = Nil): DataFrame = {
    val (nChunks, radius) = chunkLayout(maxHamming, chunks)
    val fp = hashes.select(
      (col(idCol).as("graft_id") +: col(hashCol).as("graft_sh")
        +: groupCols.map(col)): _*)
      .filter(col("graft_sh").isNotNull)
    def onGroups(a: String, b: String) = groupCols
      .map(g => col(s"$a.$g") === col(s"$b.$g"))
      .foldLeft(lit(true))(_ && _)

    // Support collapse WITHOUT a representative id (r18-opt): the pairs
    // path keys everything by the HASH VALUE itself. The pre-opt shape
    // attached a min-id representative to every class (one groupBy) and
    // a graft_rep column to every member row (one corpus-sized join)
    // only so the expansion could join on rep ids — but the input frame
    // already IS the (id, hash) member mapping, so value-keyed edges
    // expand by joining the INPUT directly: one corpus exchange and the
    // min-id aggregate payload gone, identical output (classes are
    // value-keyed and disjoint within a group, so every unordered member
    // pair still appears exactly once). The rep machinery lives on in
    // [[hammingRepPairs]] for the cluster/streaming callers that
    // genuinely need min-id labels.
    val distinctSh = fp
      .select(("graft_sh" +: groupCols).map(col): _*).distinct()
    // ONE class-level edge list — distinct-value pairs within maxHamming
    // plus a hamming-0 self-loop per distinct value — expanded to member
    // pairs by a single double-join (r18.2). Self-loop rows expand a
    // value class to its unordered member pairs via the id_a < id_b
    // filter (singleton classes contribute nothing).
    val valPairs = bandedPairs(distinctSh, "graft_sh", maxHamming,
      nChunks, radius, groupCols)
    val edges = valPairs
      .select((col("key_a").as("sh_a") +: col("key_b").as("sh_b") +:
        col("hamming") +: groupCols.map(col)): _*)
      .unionAll(distinctSh
        .select((col("graft_sh").as("sh_a") +: col("graft_sh").as("sh_b") +:
          lit(0).as("hamming") +: groupCols.map(col)): _*))
    val pairs = edges.as("p")
      .join(fp.as("ma"),
        col("p.sh_a") === col("ma.graft_sh") && onGroups("p", "ma"))
      .join(fp.as("mb"),
        col("p.sh_b") === col("mb.graft_sh") && onGroups("p", "mb"))
      .filter(col("p.sh_a") =!= col("p.sh_b") ||
        col("ma.graft_id") < col("mb.graft_id"))
      .select(
        least(col("ma.graft_id"), col("mb.graft_id")).as("id_a"),
        greatest(col("ma.graft_id"), col("mb.graft_id")).as("id_b"),
        col("hamming"))
    pairs
  }

  /** Validated (chunk count, per-chunk radius) for a multi-index layout:
    * `chunks = 0` resolves via [[autoChunks]]; radius ≤ 1 enforced
    * (pigeonhole soundness needs maxHamming < 2·chunks at radius 1). */
  private def chunkLayout(maxHamming: Int, chunks: Int): (Int, Int) = {
    val nChunks = if (chunks == 0) autoChunks(maxHamming) else chunks
    require(64 % nChunks == 0, s"chunks=$nChunks must divide 64")
    val radius = maxHamming / nChunks
    require(radius <= 1,
      s"per-chunk radius ⌊$maxHamming/$nChunks⌋ = $radius > 1 would expand " +
        "each key to an intractable Hamming ball — raise chunks so that " +
        "maxHamming < 2*chunks")
    (nChunks, radius)
  }

  /** Multi-index banded self-join over a frame of DISTINCT hash values
    * carrying a unique key column: one row (key_a, key_b, hamming,
    * groups…) per unordered pair of rows within `maxHamming`, dedup'd
    * by key order. `keyCol` is "graft_sh" itself on the value-keyed
    * pairs path and the min-id representative on the rep-keyed cluster
    * path — the explode/join algebra is identical. */
  private def bandedPairs(
      vals: DataFrame,
      keyCol: String,
      maxHamming: Int,
      nChunks: Int,
      radius: Int,
      groupCols: Seq[String]): DataFrame = {
    val width = 64 / nChunks
    val mask = if (width == 64) -1L else (1L << width) - 1
    def chunkVal(c: Int) =
      shiftrightunsigned(col("graft_sh"), c * width).bitwiseAND(mask)
    // probe side: exact chunk values only
    val base = vals.withColumn("graft_chunk", explode(array((0 until nChunks).map { c =>
      struct(lit(c).as("c"), chunkVal(c).as("v"))
    }: _*)))
    // expanded side: each chunk value plus (for radius 1) its width
    // 1-bit-flip neighbors — pair (a<b) with a chunk at per-chunk
    // distance ≤ 1 matches either base=base (equal chunk) or
    // a-flipped=base-of-b (one differing bit)
    val expanded =
      if (radius == 0) base
      else vals.withColumn("graft_chunk", explode(array((0 until nChunks).flatMap { c =>
        struct(lit(c).as("c"), chunkVal(c).as("v")) +:
          (0 until width).map { b =>
            struct(lit(c).as("c"),
              chunkVal(c).bitwiseXOR(1L << b).as("v"))
          }
      }: _*)))
    expanded.as("l")
      .join(base.as("r"),
        groupCols.map(g => col(s"l.$g") === col(s"r.$g"))
          .foldLeft(col("l.graft_chunk") === col("r.graft_chunk"))(_ && _) &&
          col(s"l.$keyCol") < col(s"r.$keyCol"))
      .select(
        (col(s"l.$keyCol").as("key_a") +: col(s"r.$keyCol").as("key_b") +:
          hamming64(col("l.graft_sh"), col("r.graft_sh")).as("hamming") +:
          groupCols.map(g => col(s"l.$g"))): _*)
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Support-level core shared by [[hammingNearDupPairs]] and
    * [[hammingNearDupClusters]]: returns (repPairs(rep_a, rep_b,
    * hamming) — one row per unordered pair of DISTINCT hash values
    * within `maxHamming`, keyed by each class's min-id representative —
    * members(graft_id, graft_rep) mapping every input id to its class
    * representative, and classes(graft_sh, groups…, graft_rep) — one
    * row per identical-fingerprint class, already deduplicated, so
    * callers needing per-class rows pay no extra exchange). The banded
    * join runs over one row per distinct hash value, never per input
    * row. */
  private[graft] def hammingRepPairs(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int,
      chunks: Int,
      groupCols: Seq[String] = Nil): (DataFrame, DataFrame, DataFrame) = {
    val (nChunks, radius) = chunkLayout(maxHamming, chunks)
    // null hashes never pair (the pre-r18 join dropped them via null
    // join keys; the groupBy would otherwise clique them together)
    val fp = hashes.select(
      (col(idCol).as("graft_id") +: col(hashCol).as("graft_sh")
        +: groupCols.map(col)): _*)
      .filter(col("graft_sh").isNotNull)
    // identical-fingerprint classes (per group when `groupCols` is set —
    // ids must be unique within a group); the class key is the hash
    // value itself, the representative its min member id (so component
    // minima over representatives equal component minima over members)
    val classKey = "graft_sh" +: groupCols
    val classes = fp.groupBy(classKey.map(col): _*)
      .agg(min(col("graft_id")).as("graft_rep"))
    val members = fp.join(classes, classKey)
      .select(("graft_id" +: "graft_rep" +: groupCols).map(col): _*)
    val reps = classes.select(
      (col("graft_rep").as("graft_id") +: col("graft_sh")
        +: groupCols.map(col)): _*)
    val repPairs = bandedPairs(reps, "graft_id", maxHamming,
      nChunks, radius, groupCols)
      .withColumnRenamed("key_a", "rep_a")
      .withColumnRenamed("key_b", "rep_b")
    (repPairs, members, classes)
  }

  /** Connected components of the hamming ≤ `maxHamming` graph, WITHOUT
    * materializing the member-level pair list: (id, cluster) for every
    * input id, cluster = min member id reachable — the exact labels
    * [[nearDupClusters]] would assign over [[hammingNearDupPairs]]
    * output, at support-sized + member-linear cost. Identical
    * fingerprints form hamming-0 cliques, so a class contributes ONE
    * node (its min-id representative) to the component graph and the
    * members inherit the representative's label by a linear join — on
    * saturated perceptual-hash corpora this is the difference between a
    * quadratic pair expansion and a corpus-linear manifest.
    *
    * Eager and caller-owned (the [[lshSelfJoin]] convention): the labels
    * come back persisted and materialized with the fingerprint cache
    * already released — unpersist them once everything derived from
    * them has materialized. */
  def hammingNearDupClusters(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      chunks: Int = 0): DataFrame = {
    // The fingerprint projection PERSISTS (r19): every caller feeds this
    // a per-row DECODE map (image dHash, audio envelope — real codec
    // work), and the plan consumes it from several subtrees (the class
    // groupBy inside the band join, the class-label side, the final
    // member attach) — unpersisted, each subtree re-decoded the whole
    // corpus (~4 decode scans per call measured at sf0.1). The cache
    // holds (id, hash): 16 bytes/row, nothing like the media bytes.
    val fp = hashes
      .select(col(idCol).as("graft_id"), col(hashCol).as("graft_sh"))
      .filter(col("graft_sh").isNotNull)
      .persist()
    try {
      val (repPairs, _, classes) =
        hammingRepPairs(fp, "graft_id", "graft_sh", maxHamming, chunks)
      val repClusters = nearDupClusters(
        repPairs.select(col("rep_a").as("id_a"), col("rep_b").as("id_b")))
      // Label at CLASS level first (support-sized join — repClusters only
      // has rows for reps that paired), then attach members by hash value:
      // ONE corpus-sized join instead of the members-construction join
      // plus a member-level label join (r19, guide §2.4). Identical
      // output: classes has exactly one row per hash value, so every
      // member picks up exactly the label its class representative got.
      val classLabels = classes
        .join(repClusters, classes("graft_rep") === repClusters("id"), "left")
        .select(col("graft_sh"),
          coalesce(col("cluster"), col("graft_rep")).as("cluster"))
      materialized(fp.join(classLabels, "graft_sh")
        .select(col("graft_id").as("id"), col("cluster")))
    } finally fp.unpersist()
  }

  /** n-gram Jaccard near-dup: like minhashNearDup but the verify step IS
    * the definition (LSH is only the blocking strategy), exposed separately
    * for exact-threshold use. */
  def ngramJaccardNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      numHashes: Int = 128,
      bands: Int = 64,
      seed: Long = 42L): DataFrame =
    // More bands → lower LSH threshold (~ (1/bands)^(bands/numHashes)), so
    // candidates cover the requested exact-Jaccard threshold.
    minhashNearDup(df, idCol, textCol, numHashes, bands, shingleN, threshold, seed)

  /** Exact-threshold Jaccard pair join via PREFIX FILTERING — the
    * LSH-free exact alternative to [[ngramJaccardNearDup]]: no
    * signatures, no probabilistic recall argument, same output CONTRACT
    * (every pair (id_a < id_b, jaccard) with true shingle Jaccard ≥
    * threshold, exactly — q_jaccard_prefix shares q_ngram_jaccard's
    * oracle verbatim, two different distributed algorithms gated on one
    * ground truth). Filter, refusal and verify are the [[ppjoin]]
    * core's.
    *
    * Cache contract: the returned frame is LAZY and backed by two
    * corpus-sized internal caches that are RETAINED on purpose — they
    * are plan-keyed, so repeated runs and sibling pipelines over the
    * same corpus share them (this is what amortizes the shingle scan
    * across the three cluster queries). A long-lived multi-corpus
    * session releases them with [[prefixJaccardNearDupReleasable]]
    * (call release() only after the derived result materialized) or
    * spark.catalog.clearCache() between corpora — the CorpusCuration
    * discipline. An in-operator eager release was tried and REVERTED
    * (r13): unpersisting a parent of a just-persisted child makes
    * Spark's CacheManager rebuild the dependent entry without the
    * parent cache, and every later run repays the full pipeline —
    * measured 1.4 s → 5.7 s on the bench row. */
  def prefixJaccardNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      maxTokenDf: Long = 100000L): DataFrame =
    prefixJaccardNearDupReleasable(
      df, idCol, textCol, shingleN, threshold, maxTokenDf)._1

  /** [[prefixJaccardNearDup]] plus an explicit cache-release handle.
    * Call release() only after every plan derived from the returned
    * frame has MATERIALIZED (count/collect/checkpoint) — the frame must
    * not be executed afterward. */
  def prefixJaccardNearDupReleasable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      maxTokenDf: Long = 100000L): (DataFrame, () => Unit) =
    ppjoin(shingleSets(df, idCol, textCol, shingleN), None,
      jaccard = true, threshold, maxTokenDf)

  /** Capped WEIGHTED shingle Jaccard near-dup (w-shingling with
    * multiplicity): pairs (a < b) with
    *   J_w(A,B) = Σₛ min(wA(s), wB(s)) / Σₛ max(wA(s), wB(s)) ≥ threshold
    * over n-gram shingles s with w(s) = min(occurrences(s), cap).
    * Unweighted shingle Jaccard ([[prefixJaccardNearDup]]) reads a doc
    * as a SET, so a boilerplate phrase repeated 50 times and repeated
    * once look identical; weighted Jaccard scores repetition mass — the
    * template-spam / boilerplate near-dup axis. (Shingles, not unigram
    * tokens: unigram multisets overlap heavily across UNRELATED
    * documents — measured 37k qualifying pairs over 500 fixture docs at
    * t=0.5, a quadratic-pair degeneracy — while n-gram multisets keep
    * cross-doc noise near zero, the same reason the whole family
    * shingles.)
    *
    * Mechanism (and why it is EXACT, not approximate): expand every
    * shingle into min(occurrences, cap) distinct elements (s,1)…(s,w)
    * ([[weightedSets]]). Plain Jaccard over the expanded sets equals
    * capped-weight Jaccard — |A∩B| counts (s, i ≤ min(wA, wB)) and |A∪B|
    * counts (s, i ≤ max(wA, wB)) — so the [[ppjoin]] core runs UNCHANGED
    * on the expanded sets, inheriting its exactness proof, refusal and
    * scale shape (expansion multiplies set sizes by ≤ cap — a constant —
    * and candidate volume stays df-bounded). The oracle replays the same
    * expansion in SQL, so the whole operator is hash-gated. */
  def weightedJaccardNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      cap: Int = 3,
      threshold: Double = 0.5,
      maxTokenDf: Long = 100000L): DataFrame =
    weightedJaccardNearDupReleasable(
      df, idCol, textCol, shingleN, cap, threshold, maxTokenDf)._1

  /** [[weightedJaccardNearDup]] plus the explicit cache-release handle —
    * the multi-corpus-session contract of
    * [[prefixJaccardNearDupReleasable]]. */
  def weightedJaccardNearDupReleasable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      cap: Int = 3,
      threshold: Double = 0.5,
      maxTokenDf: Long = 100000L): (DataFrame, () => Unit) =
    ppjoin(weightedSets(df, idCol, textCol, shingleN, cap), None,
      jaccard = true, threshold, maxTokenDf)

  /** Capped-tf expanded shingle sets (graft_id, graft_sh sorted): shingle
    * s occurring c times in a doc becomes the elements s␁1 … s␁min(c, cap).
    * Elements are separated from their repeat index by U+0001; shingles
    * containing that control char would collide (not a natural-text
    * concern). */
  private[graft] def weightedSets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      cap: Int): DataFrame = {
    require(cap >= 1, s"cap=$cap must be >= 1")
    df.select(col(idCol).as("graft_id"),
        explode(shingles(col(textCol), shingleN)).as("graft_tok"))
      .groupBy("graft_id", "graft_tok")
      .agg(count(lit(1)).as("graft_c"))
      .select(col("graft_id"), explode(transform(
        sequence(lit(1), least(col("graft_c"), lit(cap.toLong)).cast("int")),
        i => concat_ws("\u0001", col("graft_tok"), i.cast("string")))).as("graft_el"))
      .groupBy("graft_id")
      .agg(sort_array(collect_list("graft_el")).as("graft_sh"))
  }

  /** Directional CONTAINMENT near-dup: pairs (a, b), a ≠ b, with
    *   C(A→B) = |A∩B| / |A| ≥ threshold
    * over n-gram shingle sets — "document a is (mostly) contained in
    * document b": quotation, excerpting, a post embedded in a longer
    * page. The symmetric Jaccard family MISSES these by construction
    * (a short doc inside a long one has |A∩B|/|A∪B| ≈ |A|/|B| → 0), and
    * PPJoin's size-ratio filter explicitly prunes them; containment has
    * no size constraint between the sides, which is exactly its point.
    * The [[ppjoin]] core joins A's prefix against the FULL posting lists
    * of the corpus and refuses a hot prefix shingle eagerly, at call
    * time.
    *
    * EXECUTOR SIZING (measured, r17 sf30 sweep — the rule a 100 TB run
    * needs): the verify step holds the candidate docs' shingle sets in
    * execution memory, so memory-per-executor must track CANDIDATE
    * VOLUME (Σ df over prefix shingles × mean shingle-set bytes), not
    * corpus size. At sf30 (1.5M docs, ~3.2× sf10's candidate volume)
    * a 64g single-JVM run spilled 25.9 GB and paid 5.7× sf10's wall;
    * 96g ran spill-free at 3.76× — work-linear. Budget ≈ 2 KB of
    * execution memory per candidate pair per concurrent task (shingle
    * arrays on both join sides + the intersect scratch), or cut the
    * per-task width by raising shuffle partitions: spill is graceful
    * but pays ~1.5× wall per decade of deficit. */
  def containmentNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxTokenDf: Long = 100000L): DataFrame = {
    // EAGER by design (r16 advice): the releasable variant's internal
    // caches are CORPUS-sized, so a lazy wrapper that drops the release
    // handle accumulates unbounded cached state across calls in a long
    // session. Materialize the pair result (dup-rate-sized, orders of
    // magnitude smaller) into an eager localCheckpoint, then release
    // every internal cache immediately — long-session callers wanting
    // lazy plans use the Releasable variant and release after their own
    // action.
    val (res, release) = containmentNearDupReleasable(
      df, idCol, textCol, shingleN, threshold, maxTokenDf)
    try res.localCheckpoint(true) finally release()
  }

  /** [[containmentNearDup]] plus an explicit release handle for its
    * internal caches — the multi-corpus-session contract of
    * [[prefixJaccardNearDupReleasable]]. */
  def containmentNearDupReleasable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxTokenDf: Long = 100000L): (DataFrame, () => Unit) = {
    val (pairs, release) = ppjoin(shingleSets(df, idCol, textCol, shingleN),
      None, jaccard = false, threshold, maxTokenDf)
    (pairs.distinct(), release)
  }

  /** [[prefixJaccardNearDupReleasable]] over ANY per-row element-set
    * frame `(graft_id, graft_sh: array<string>)` — elements must be
    * distinct within a row. */
  def prefixJaccardOnSetsReleasable(
      sets: DataFrame,
      threshold: Double,
      maxTokenDf: Long): (DataFrame, () => Unit) =
    ppjoin(sets.withColumn("graft_sh", sort_array(col("graft_sh"))), None,
      jaccard = true, threshold, maxTokenDf)

  /** (graft_id, graft_sh): each doc's distinct n-gram shingles, sorted. */
  private[graft] def shingleSets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int): DataFrame =
    df.select(col(idCol).as("graft_id"),
      sort_array(array_distinct(shingles(col(textCol), shingleN))).as("graft_sh"))

  /** Exact candidate volume from which [[ppjoin]] verifies in two tiers. */
  private[graft] val TwoTierCandidates = 8000000L

  /** The PPJoin core (SSJoin/PPJoin — Chaudhuri et al. ICDE 2006, Xiao et
    * al. WWW 2008) behind every exact set-similarity join here:
    * [[prefixJaccardNearDup]], [[weightedJaccardNearDup]],
    * [[containmentNearDup]] and [[containmentAgainstFrozen]]. `sets` is
    * (graft_id, graft_sh: sorted distinct array<string>). Returns the
    * LAZY verified pairs (id_a, id_b, jaccard | containment) and a
    * release handle for every cache the call made; on any failure,
    * the refusal included, the call releases them itself.
    *
    * Prefix builder. Each doc's elements are ordered by ascending
    * document frequency (df, then the element — a strict total order),
    * df counted over the corpus itself or, with a `reference`, looked up
    * in the frozen reference (unseen elements get df 0). A doc's prefix
    * is its first p = |A| − ⌈t·|A|⌉ + 1 elements: a pair reaching t
    * shares at least ⌈t·|A|⌉ elements, so one lies in A's prefix
    * (pigeonhole) — for Jaccard in both prefixes. ⌈·⌉ carries a −1e-9
    * epsilon, so a last-ulp overestimate of t·|A| can only LENGTHEN a
    * prefix. Rarest-first keeps posting lists short: the boilerplate
    * shingle every doc shares sorts last and never joins. What persists
    * is the doc-packed (df, element) arrays — ~n_docs rows, not the
    * ~n_tokens of the token table, which at sf10 outgrew the heap's
    * storage share and thrashed (123 s on 10× work). Document frequency
    * within a corpus is a window count over the element: one exchange.
    *
    * One eager aggregate over the prefixes, inside the call:
    *  - the refusal: a prefix element with df above `maxTokenDf` THROWS,
    *    naming it (capping would silently break exactness) — a corpus
    *    tripping it should run [[exact]] dedup first, which removes the
    *    identical-doc mass that makes rare prefixes common;
    *  - the exact candidate volume before any join: Jaccard joins prefix
    *    to prefix (Σ over elements of n·(n−1)/2, n = docs holding it in
    *    their prefix); containment joins A's prefix to the FULL posting
    *    lists of the other side — no B prefix exists, a huge B can
    *    contain a tiny A — (Σ n·(df − 1) within a corpus, Σ n·df against
    *    a reference).
    *
    * Candidates. Prefix elements whose postings hold no other doc (df 1
    * within a corpus, df 0 against a reference) — the bulk of a
    * rarity-ordered prefix — never join. The LENGTH filter rides the join
    * predicate (containment |B| ≥ t·|A|; Jaccard both ways), and Jaccard
    * adds PPJoin's POSITION filter: a match at 1-based positions (i, j)
    * bounds the overlap by 1 + min(|A|−i, |B|−j), which must reach
    * α = ⌈t/(1+t)·(|A|+|B|)⌉ — sound because the pair's first common
    * element in the global order has every other one after it on both
    * sides. Jaccard pairs are deduplicated before the verify; containment
    * pairs repeat only when they share several prefix elements (3% at
    * sf0.1: 308k candidates, 300k unique), so their callers deduplicate
    * the verified result instead of paying an exchange of the candidates.
    *
    * Two-tier verify. The exact verify joins both sorted sets onto each
    * pair and merge-walks their intersection o (Jaccard o/(|A|+|B|−o) by
    * set-size algebra, containment o/|A|). From `twoTierAt` candidates
    * on, tier 1 first intersects per-doc sorted xxhash64 arrays (~6×
    * lighter through the shuffle): when every doc's hashes are
    * collision-free ([[hashSets]]) that intersection bounds o from above
    * and both measures grow with o, so no true pair is dropped. Tier 2
    * string-verifies the survivors only, each side's sets cut to
    * survivor docs by broadcast semi-joins. An intra-doc hash collision
    * (never observed) falls back to the one-tier verify, so both tiers
    * return identical pairs. The switch is data logic, not host luck:
    * the hash tier's fixed cost (hash cache, injectivity aggregate,
    * survivor materialization) paid back only on big candidate sets —
    * at sf10, 21.4M candidates each dragging two string arrays made the
    * one-tier verify ~55 s of an ~89 s wall and two-tier won ~1.7× at
    * 30.8M; at ≤3.1M one-tier won. Tests force a tier with `twoTierAt`
    * 0 or Long.MaxValue. */
  private[graft] def ppjoin(
      sets: DataFrame,
      reference: Option[FrozenContainmentReference],
      jaccard: Boolean,
      threshold: Double,
      maxTokenDf: Long,
      twoTierAt: Long = TwoTierCandidates): (DataFrame, () => Unit) = {
    require(threshold > 0 && threshold <= 1, s"threshold=$threshold outside (0,1]")
    val caches = new Caches
    caches.onFailure {
      val sh = caches.keep(sets)
      val tokens = sh.select(col("graft_id"), explode(col("graft_sh")).as("graft_tok"))
      val withDf = reference match {
        case None => tokens.withColumn("graft_df", count(lit(1)).over(Window.partitionBy("graft_tok")))
        case Some(ref) => tokens.join(ref.refDfs, Seq("graft_tok"), "left")
          .withColumn("graft_df", coalesce(col("graft_df"), lit(0L)))
      }
      val ordered = caches.keep(withDf.groupBy("graft_id")
        .agg(sort_array(collect_list(struct(col("graft_df"), col("graft_tok")))).as("graft_ord")))
      val plen = size(col("graft_ord")) -
        ceil(lit(threshold) * size(col("graft_ord")) - lit(1e-9)).cast("int") + 1
      val prefixes = ordered
        .select(col("graft_id"), size(col("graft_ord")).as("graft_sz"),
          posexplode(slice(col("graft_ord"), lit(1), plen)))
        .select(col("graft_id"), col("graft_sz"), (col("pos") + 1).as("graft_pos"),
          col("col.graft_tok").as("graft_tok"), col("col.graft_df").as("graft_df"))
      // a doc's own postings entry: within a corpus every df counts it
      val own = if (reference.isEmpty) 1L else 0L
      // graft_v: the candidates each prefix entry (containment) or each
      // prefix element (Jaccard) contributes
      val (maxPrefixDf, volume) = {
        val perEntry =
          if (jaccard) prefixes.groupBy("graft_tok")
            .agg(max(col("graft_df")).as("graft_df"), count(lit(1)).as("graft_n"))
            .select(col("graft_df"),
              shiftright(col("graft_n") * (col("graft_n") - 1), 1).as("graft_v"))
          else prefixes.select(col("graft_df"),
            greatest(col("graft_df") - own, lit(0L)).as("graft_v"))
        val row = perEntry.agg(max(col("graft_df")), sum(col("graft_v"))).first()
        (if (row.isNullAt(0)) 0L else row.getLong(0),
          if (row.isNullAt(1)) 0L else row.getLong(1))
      }
      if (maxPrefixDf > maxTokenDf) {
        val hot = prefixes.filter(col("graft_df") > maxTokenDf)
          .select(col("graft_tok")).head().getString(0)
        throw new IllegalStateException(
          s"PPJoin: prefix element '$hot' has document frequency above " +
            s"maxTokenDf=$maxTokenDf — run exact dedup first, or raise the " +
            "bound knowingly")
      }
      val joinable = prefixes.filter(col("graft_df") > own)
      val setsB = reference.fold(sh)(_.refSets)
      val candidates =
        if (jaccard) joinable.as("a")
          .join(joinable.as("b"),
            col("a.graft_tok") === col("b.graft_tok") &&
              col("a.graft_id") < col("b.graft_id") &&
              col("a.graft_sz") >= lit(threshold) * col("b.graft_sz") - lit(1e-9) &&
              col("b.graft_sz") >= lit(threshold) * col("a.graft_sz") - lit(1e-9) &&
              (lit(1) + least(
                col("a.graft_sz") - col("a.graft_pos"),
                col("b.graft_sz") - col("b.graft_pos"))) >=
                ceil(lit(threshold / (1 + threshold)) *
                  (col("a.graft_sz") + col("b.graft_sz")) - lit(1e-9)))
          .select(col("a.graft_id").as("id_a"), col("b.graft_id").as("id_b"))
          .distinct()
        else joinable.as("a")
          .join(
            setsB.select(col("graft_id"), size(col("graft_sh")).as("graft_sz"),
              explode(col("graft_sh")).as("graft_tok")).as("b"),
            col("a.graft_tok") === col("b.graft_tok") &&
              (if (own == 1L) col("a.graft_id") =!= col("b.graft_id") else lit(true)) &&
              col("b.graft_sz").cast("double") >= lit(threshold) * col("a.graft_sz") - lit(1e-9))
          .select(col("a.graft_id").as("id_a"), col("b.graft_id").as("id_b"))
      def measure(o: Column, na: Column, nb: Column): Column =
        if (jaccard) o / (na + nb - o) else o / na
      def exactVerify(pairs: DataFrame, a: DataFrame, b: DataFrame): DataFrame = pairs
        .join(a.select(col("graft_id").as("id_a"), col("graft_sh").as("sh_a")), "id_a")
        .join(b.select(col("graft_id").as("id_b"), col("graft_sh").as("sh_b")), "id_b")
        .withColumn("graft_m", measure(
          SortedIntersectSize.sortedIntersectSize(col("sh_a"), col("sh_b")).cast("double"),
          size(col("sh_a")), size(col("sh_b"))))
        .filter(col("graft_m") >= threshold)
        .select(col("id_a"), col("id_b"),
          round(col("graft_m"), 4).as(if (jaccard) "jaccard" else "containment"))
      val verified =
        if (volume < twoTierAt) exactVerify(candidates, sh, setsB)
        else {
          val (hshA, injectiveA) = hashSets(sh, caches)
          val (hshB, injectiveB) =
            reference.fold((hshA, injectiveA))(r => (r.refHsh, r.refInjective))
          if (!(injectiveA && injectiveB)) {
            System.err.println("[graft.Dedup] PPJoin: intra-doc shingle-hash " +
              "collision — falling back to the one-tier string verify")
            exactVerify(candidates, sh, setsB)
          } else {
            def hashes(h: DataFrame, side: String) = h.select(col("graft_id").as(s"id_$side"),
              col("graft_n").as(s"n_$side"), col("graft_hs").as(s"hs_$side"))
            val surv = caches.keep(candidates
              .join(hashes(hshA, "a"), "id_a")
              .join(hashes(hshB, "b"), "id_b")
              .filter(measure(SortedLongIntersectSize.sortedLongIntersectSize(
                col("hs_a"), col("hs_b")).cast("double"), col("n_a"), col("n_b")) >= threshold)
              .select(col("id_a"), col("id_b")))
            surv.count()
            def survivors(s: DataFrame, id: String) = s.join(
              broadcast(surv.select(col(id).as("graft_id"))), Seq("graft_id"), "left_semi")
            exactVerify(surv, survivors(sh, "id_a"), survivors(setsB, "id_b"))
          }
        }
      (verified, () => caches.release())
    }
  }

  /** Tier-1 hash arrays of sorted sets, persisted into `caches`:
    * (graft_id, graft_n = set size, graft_hs = sorted distinct xxhash64
    * of the elements), and whether every row's hashes are collision-free
    * (graft_n = |graft_hs|) — what makes a hash intersection an upper
    * bound on the string one. */
  private def hashSets(sets: DataFrame, caches: Caches): (DataFrame, Boolean) = {
    val hsh = caches.keep(sets.select(col("graft_id"), size(col("graft_sh")).as("graft_n"),
      sort_array(array_distinct(transform(col("graft_sh"), x => xxhash64(x)))).as("graft_hs")))
    val row = hsh.agg(max(col("graft_n") - size(col("graft_hs")))).first()
    (hsh, row.isNullAt(0) || row.getInt(0) == 0)
  }

  /** The caches one call persists, released together on whichever exit
    * the call takes. A plan something else already cached stays that
    * owner's: caches are plan-keyed, so a batch identical to a frozen
    * reference shares the reference's cache, and releasing it here would
    * drop the reference's. */
  private final class Caches {
    private var held = List.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = {
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) held ::= df
      df.persist()
    }
    def release(): Unit = held.reverse.foreach(_.unpersist())
    def onFailure[T](body: => T): T =
      try body catch { case e: Throwable => release(); throw e }
  }

  /** `df` persisted and materialized, or nothing left cached if that fails. */
  private def materialized(df: DataFrame): DataFrame = {
    val cached = df.persist()
    try { cached.count(); cached }
    catch { case e: Throwable => cached.unpersist(); throw e }
  }

  /** Collapse a near-dup pair graph into clusters: returns (id, cluster)
    * where cluster = min id reachable through pair edges (connected
    * components). Below `maxLocalPairs` a driver-side union-find solves
    * the (dup-rate-sized) pair list in one collect; above it, the
    * alternating large-star/small-star contraction loop
    * ([[distributedClusters]]) takes over — per-round shuffle volume
    * SHRINKS as edges contract onto component minima, which is what
    * survives a pair graph beyond any driver heap. Both paths produce
    * identical min-label clusters.
    *
    * Throws if the edge set has not reached its star-forest fixpoint
    * within `maxRounds` (only possible when the contraction round count,
    * O(log² n), exceeds the cap) — returning silently would hand the
    * caller WRONG cluster labels.
    */
  /** Driver-path bound for [[nearDupClusters]], scaled to the driver
    * heap: the union-find holds ~2 boxed map entries per pair (~150 B
    * with HashMap overhead), so heap/2048 pairs stays well under 10% of
    * the heap — 4M pairs on the 8 GB default, 32M on a 64 GB scale
    * driver. Clamped to [4M, 64M]. Result-DETERMINISTIC either way:
    * both paths produce identical min-label clusters (the r16 sf10
    * sweep caught q_media_curate's text graph crossing the old fixed 4M
    * bound — the distributed loop's per-round label shuffles were the
    * single superlinear row; on a multi-executor cluster those rounds
    * amortize, but a single JVM is exactly where the driver path wins). */
  /** `GRAFT_CC_MAX_LOCAL_PAIRS` overrides the heap-scaled bound (set 0 to
    * force the distributed contraction loop — used by the scale sweeps to
    * measure the beyond-any-driver-heap path on its own). */
  def defaultMaxLocalPairs: Long =
    sys.env.get("GRAFT_CC_MAX_LOCAL_PAIRS").map { s =>
      try s.trim.toLong
      catch {
        case e: NumberFormatException => throw new IllegalArgumentException(
          s"GRAFT_CC_MAX_LOCAL_PAIRS='$s' is not a long (set 0 to force " +
            "the distributed contraction path, or unset for the " +
            "heap-scaled default)", e)
      }
    }.getOrElse(
      math.min(64000000L,
        math.max(4000000L, Runtime.getRuntime.maxMemory() / 2048)))

  def nearDupClusters(
      pairs: DataFrame,
      maxRounds: Int = 50,
      maxLocalPairs: Long = defaultMaxLocalPairs): DataFrame = {
    // Persist the pair plan unless the caller already did (dedupNear
    // does; a direct caller's LSH-blocked candidate plan would otherwise
    // compute TWICE — once for the bound count, once for the
    // collect/edge-build below).
    val cached = pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val p = if (cached) pairs else pairs.persist()
    try {
      // FAST PATH: the pair list is dup-rate-sized, orders of magnitude
      // smaller than the corpus (a 100 TB corpus with 1% near-dups in
      // clusters of ~2 yields ~10⁸ docs but pairs only for the dup subset).
      // Below `maxLocalPairs` (~tens of MB of ids) a driver-side union-find
      // replaces the O(log diameter) rounds of full-label-table shuffles
      // with ONE collect — the same driver-memory envelope as collecting a
      // broadcast side. Above the bound, the distributed loop below stands.
      val nPairs = p.count()
      if (nPairs <= maxLocalPairs) localUnionFind(p)
      else distributedClusters(p, maxRounds)
    } finally if (!cached) { p.unpersist(); () }
  }

  /** Driver-side weighted-by-min union-find over a collected pair list.
    * Roots are always the minimum id of their component, matching the
    * distributed min-label propagation exactly. */
  private def localUnionFind(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val idType = pairs.schema("id_a").dataType
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrDefault(r, r) != r) {
        val p = parent.get(r)
        parent.put(r, parent.getOrDefault(p, p)) // path halving
        r = parent.get(r)
      }
      r
    }
    val rows = pairs.select("id_a", "id_b").collect()
    rows.foreach { row =>
      val (ra, rb) = (find(row.get(0)), find(row.get(1)))
      if (ra != rb) {
        if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val ids = new java.util.LinkedHashSet[Any]()
    rows.foreach { r => ids.add(r.get(0)); ids.add(r.get(1)) }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    ids.forEach(id => out.add(org.apache.spark.sql.Row(id, find(id))))
    spark.createDataFrame(out,
      new org.apache.spark.sql.types.StructType()
        .add("id", idType).add("cluster", idType))
  }

  /** Distributed connected components via alternating large-star /
    * small-star contraction (Kiveris et al. 2014, "Connected Components
    * in MapReduce and Beyond"). The r16 sf10 sweep measured the previous
    * per-round min-label propagation as the single superlinear scale row
    * (12.7 GB of label shuffles at 6.5M pairs): every round re-shuffled a
    * CONSTANT-size label table against a CONSTANT-size edge list. Here
    * the edge list ITSELF is rewritten toward a star forest — each round
    * rewires edges onto component minima and collapses duplicates under
    * distinct(), so the per-round shuffle SHRINKS as components contract.
    * Converges in O(log² n) rounds (conjectured O(log n)); at a 100-TB
    * pair graph this is the difference between a bounded, shrinking
    * shuffle and log-diameter full-table re-shuffles.
    *
    * Contract: identical min-label clusters to [[localUnionFind]] — at
    * the fixpoint every component is a star centered at its minimum id.
    *
    * Per-node minima are computed with a window aggregate (ONE shuffle
    * per star operation, no join-back of the edge list), and no
    * collect_list ever materializes a neighborhood — a boilerplate hub
    * with 10⁷ neighbors streams through the window buffer with spilling
    * rather than landing in one array.
    *
    * Iterative-algorithm discipline: every round's edge set is
    * localCheckpoint'ed (eager), truncating the logical plan — each round
    * references the previous set multiple times, so an unmaterialized
    * lineage would double per round (measured seconds of driver-side
    * planning by round 2 under the old loop). On a real cluster this
    * would be `checkpoint()` to reliable storage for fault tolerance. */
  /** Release the block store behind an eager localCheckpoint once the
    * round that produced it is superseded — the ContextCleaner would get
    * there after GC, but an O(log² n)-round loop should not hold O(rounds)
    * generations of edge sets hostage to GC timing. Only ever called on
    * frames no later round references (an unpersisted localCheckpoint
    * cannot recompute). */
  private def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false); ()
      case _ => ()
    }

  private def distributedClusters(pairs: DataFrame, maxRounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    // Canonical undirected edge set: (u, v) with u < v, no self-loops.
    var edges = pairs
      .filter(col("id_a") =!= col("id_b"))
      .select(
        least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .distinct()
      .localCheckpoint(true)

    // large-star(x): connect every neighbor strictly LARGER than x to
    // m(x) = min(N(x) ∪ {x}). Long chains halve; big nodes hook onto
    // component minima.
    def largeStar(e: DataFrame): DataFrame = {
      val bidir = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      bidir
        .withColumn("m",
          least(min(col("v")).over(Window.partitionBy("u")), col("u")))
        .filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v"))
        .distinct()
    }

    // small-star(x): connect every neighbor ≤ x (and x itself) to the
    // minimum among them. In canonical orientation the center is the
    // LARGER endpoint v and its smaller neighbors are the u column.
    def smallStar(e: DataFrame): DataFrame = {
      val withM = e.withColumn("m",
        min(col("u")).over(Window.partitionBy("v")))
      withM.select(col("m").as("u"), col("v"))
        .unionByName(
          withM.filter(col("u") =!= col("m"))
            .select(col("m").as("u"), col("u").as("v")))
        .distinct()
    }

    // Convergence test = the DEFINING graph property, checked directly
    // in ONE aggregate job (r18 — the r17 sameSet comparison cost
    // count + except per star op, 4 jobs/round): a canonical (u < v)
    // distinct edge set is a star forest centered at component minima
    // iff no id appears both as a center (u) and a member (v), and no
    // member appears under two centers. Exactly the fixpoint of both
    // star operations (Kiveris et al. 2014), with no fingerprint or
    // set-equality approximation.
    def isStarForest(e: DataFrame): Boolean =
      e.select(col("u").as("id"), lit(0).as("asV"))
        .unionByName(e.select(col("v").as("id"), lit(1).as("asV")))
        .groupBy("id")
        .agg(min(col("asV")).as("mn"), max(col("asV")).as("mx"),
          sum(col("asV")).as("vCnt"))
        .filter(col("mn") =!= col("mx") || col("vCnt") > 1)
        .isEmpty

    var converged = isStarForest(edges)
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val afterLarge = largeStar(edges).localCheckpoint(true)
      releaseLocalCheckpoint(edges)
      val afterSmall = smallStar(afterLarge).localCheckpoint(true)
      releaseLocalCheckpoint(afterLarge)
      edges = afterSmall
      converged = isStarForest(edges)
      rounds += 1
    }
    if (!converged) {
      throw new IllegalStateException(
        s"nearDupClusters did not converge within maxRounds=$maxRounds " +
          "(edge set still contracting) — raise maxRounds")
    }
    // Fixpoint = star forest: u is the component minimum, v a member.
    val labels = edges.select(col("v").as("id"), col("u").as("cluster"))
      .unionByName(edges.select(col("u").as("id"), col("u").as("cluster")))
      .distinct()
    // Self-pair parity with localUnionFind (r17 ADVICE): a node whose
    // ONLY pairs are (id, id) self-loops still gets its (id, id) row —
    // the canonicalization above dropped self-loops, so recover ids the
    // star forest never saw.
    val selfOnly = pairs.filter(col("id_a") === col("id_b"))
      .select(col("id_a").as("id")).distinct()
      .join(labels, Seq("id"), "left_anti")
    labels.unionByName(selfOnly.select(col("id"), col("id").as("cluster")))
  }

  /** End-to-end near-dup corpus dedup: MinHash-LSH pairs → connected
    * components → keep one survivor (min id) per cluster plus all
    * untouched docs. The full "dedup 100 TB of documents" pipeline. */
  def dedupNear(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleN: Int = 3,
      seed: Long = 42L): DataFrame = {
    // minhashNearDup hands back its (tiny) pair list persisted and
    // materialized; dropClusterLosers unpersists it after clustering
    dropClusterLosers(df, idCol,
      minhashNearDup(df, idCol, textCol, numHashes, bands, shingleN, threshold, seed))
  }

  /** [[dedupNear]] with the EXACT-threshold pair graph
    * ([[prefixJaccardNearDup]]: PPJoin prefix filtering + exact Jaccard
    * verify — fully deterministic, no hash-probability argument at all)
    * instead of MinHash candidates. Same cluster/survivor semantics,
    * but the survivor set is a deterministic function of the corpus,
    * which makes a composed pipeline over it SQL-replayable
    * (q_corpus_curate's oracle relies on this). Prefix filtering also
    * gets CHEAPER as the threshold rises (prefix length
    * |A| − ⌈t·|A|⌉ + 1 shrinks), so at dedup-grade thresholds (0.8+)
    * this path undercuts the banded blocking; both stay pair-bounded
    * at 100 TB. Run [[exact]] dedup first (the caller's contract here —
    * CorpusCuration does) so identical-doc mass cannot trip the
    * rare-prefix guard. */
  def dedupNearExact(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleN: Int = 3): DataFrame = {
    // Cache-retaining on purpose (see prefixJaccardNearDup's cache
    // contract): the plan-keyed sh/prefixes caches amortize repeated
    // runs over the same corpus; a long-lived multi-corpus session
    // uses [[dedupNearExactReleased]], which drops them once the
    // cluster labels have materialized.
    val pairs = prefixJaccardNearDup(df, idCol, textCol, shingleN, threshold)
      .select(col("id_a"), col("id_b"))
      .persist()
    dropClusterLosers(df, idCol, pairs)
  }

  /** [[dedupNearExact]] for long-lived multi-corpus sessions: identical
    * result, but the pair pipeline's corpus-sized caches are RELEASED
    * once clustering has materialized its labels — this path leaves
    * nothing in the session cache, at the price of repaying the
    * shingle scan on a repeated run over the same corpus. */
  def dedupNearExactReleased(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleN: Int = 3): DataFrame = {
    val (raw, release) = prefixJaccardNearDupReleasable(
      df, idCol, textCol, shingleN, threshold)
    val out = dropClusterLosers(df, idCol, raw.select(col("id_a"), col("id_b")))
    release()
    out
  }

  /** Shared tail of the near-dup dedup paths: cluster the (persisted)
    * pair graph, drop every non-canonical member. nearDupClusters
    * materializes its labels (local relation or checkpoint) before
    * returning, so the pair cache can go immediately. */
  private def dropClusterLosers(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame): DataFrame = {
    val clusters = nearDupClusters(pairs)
    pairs.unpersist()
    val losers = clusters.filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Embedding-cosine near-dup pairs: random-hyperplane LSH buckets then
    * exact cosine verify. See Similarity.cosineLshBuckets for the bucketing
    * scheme. */
  def embeddingNearDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      planes: Int = 8,
      seed: Long = 42L): DataFrame = {

    val bucketed = df.select(
      col(idCol).as("graft_id"),
      col(vecCol).as("graft_vec"),
      Similarity.hyperplaneBucket(col(vecCol), planes, seed).as("graft_bucket"))

    bucketed.as("l")
      .join(bucketed.as("r"),
        col("l.graft_bucket") === col("r.graft_bucket") &&
          col("l.graft_id") < col("r.graft_id"))
      .select(
        col("l.graft_id").as("id_a"), col("r.graft_id").as("id_b"),
        Similarity.cosine(col("l.graft_vec"), col("r.graft_vec")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** [[embeddingNearDup]] with the ORACLE-REPLAYABLE bucket function
    * ([[Similarity.replayableHyperplaneBucket]]: md5-derived integer
    * planes, exact int64 plane dots) and the threshold applied to the
    * ROUND-4 cosine (the [[Similarity.exactPairs]] contract whose
    * cross-engine parity the q_sim_pairs gate proves). Every stage —
    * bucket assignment, candidate generation, verify — is a
    * deterministic function of the corpus that DuckDB SQL replays
    * verbatim, which is what promotes q_embedding_near_dup from
    * rows-only to hash-gated. Same 100 TB shape as the xxhash64 path:
    * the self-join carries (bucket, id) keys, pairs exist only within
    * buckets. `planes ≤ 0` (the default) self-tunes the bucket count to
    * the corpus via [[Similarity.autoPlanes]] (planes ∝ log n), so the
    * within-bucket pair mass stays flat as the corpus grows — an oracle
    * replays the same choice from COUNT(*) with the identical integer
    * formula. */
  def embeddingNearDupReplayable(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      planes: Int = -1): DataFrame =
    embeddingNearDupReplayableReleasable(df, idCol, vecCol, threshold, planes)._1

  /** [[embeddingNearDupReplayable]] plus an explicit release handle for
    * the bucketed-vector cache — the multi-corpus-session contract of
    * [[prefixJaccardNearDupReleasable]]. */
  def embeddingNearDupReplayableReleasable(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      planes: Int = -1): (DataFrame, () => Unit) = {
    val (n, dim) = Similarity.countAndDim(df, vecCol)
    val chosenPlanes = if (planes > 0) planes else Similarity.autoPlanes(n)
    // Persisted: the self-join would otherwise run the parquet scan and
    // the bucket kernel once per side.
    val bucketed = df.select(
      col(idCol).as("graft_id"),
      col(vecCol).as("graft_vec"),
      Similarity.replayableHyperplaneBucket(col(vecCol), chosenPlanes, dim)
        .as("graft_bucket"))
      .persist()
    val result = bucketed.as("l")
      .join(bucketed.as("r"),
        col("l.graft_bucket") === col("r.graft_bucket") &&
          col("l.graft_id") < col("r.graft_id"))
      .select(
        col("l.graft_id").as("id_a"), col("r.graft_id").as("id_b"),
        round(Similarity.cosine(col("l.graft_vec"), col("r.graft_vec")), 4)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
    (result, () => { bucketed.unpersist(); () })
  }
}
