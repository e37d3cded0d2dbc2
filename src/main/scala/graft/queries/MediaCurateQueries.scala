package graft.queries

import graft.GraftQuery
import graft.operators.Dedup
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end multimodal corpus curation (VERDICT r13 item 6): the four
  * modality near-dup paths — text SimHash, image dHash, audio energy
  * envelope, video aligned-frame dHash — verified in isolation since r12,
  * composed here into ONE registered pipeline: decode → fingerprint →
  * per-modality near-dup pair graph → connected-component clustering →
  * survivor manifest. Two registrations:
  *
  *   - q_media_curate_text: the text stage alone, ORACLE-GATED end to end
  *     (replayable simhash pairs → CC → canonical manifest — DuckDB
  *     replays the identical fingerprint algebra + recursive closure).
  *   - q_media_curate: the full four-modality manifest. Image/audio/video
  *     fingerprints come from real JVM codecs (ImageIO / AudioSystem /
  *     RIFF walk) whose bytes DuckDB cannot replay → rows-only by
  *     declared design; MediaCurateSpec pins the exact survivor manifest
  *     against the planted-pair group structure across ALL modalities,
  *     and the text rows are the oracle-gated sibling's rows verbatim.
  *
  * Scale shape (the 100 TB story): every stage is the already-measured
  * sublinear path — fingerprinting is a narrow per-row map, pair
  * candidates come from the multi-index hamming equi-join (never
  * all-pairs), and clustering runs on the PAIR set (dup-rate-sized, not
  * corpus-sized) with the driver union-find fast path below the bounded
  * cap and O(log diameter) pointer-jumping rounds above it.
  */
object MediaCurateQueries {

  /** One modality's survivor manifest: every item keeps its CC cluster
    * label (its own id when it paired with nothing) and is canonical iff
    * it IS the cluster minimum — the deterministic keep-the-smallest-id
    * survivor rule every stage of the pipeline shares. */
  private def manifest(
      items: DataFrame, idCol: String, pairs: DataFrame,
      modality: String): DataFrame =
    manifestFromLabels(items, idCol,
      Dedup.nearDupClusters(pairs.select("id_a", "id_b")), modality)

  /** [[manifest]] from a precomputed (id, cluster) label frame — the
    * r18 path for pure hamming modalities, whose labels come from
    * [[Dedup.hammingNearDupClusters]] WITHOUT ever materializing the
    * member-level pair list (on saturated perceptual-hash corpora that
    * list is inherently quadratic in the duplicated mass; the label
    * frame stays corpus-linear). */
  private def manifestFromLabels(
      items: DataFrame, idCol: String, labels: DataFrame,
      modality: String): DataFrame =
    items.join(labels, items(idCol) === labels("id"), "left")
      .select(
        lit(modality).as("modality"),
        items(idCol).cast("long").as("item_id"),
        coalesce(col("cluster"), items(idCol)).cast("long").as("cluster"))
      .withColumn("is_canonical",
        (col("cluster") === col("item_id")).cast("int"))

  val all: Seq[GraftQuery] = Seq(

    // Text curation stage, oracle-gated end to end: replayable simhash
    // pairs (the q_simhash_pairs contract — EXACT hamming ≤ 7 cover, a
    // pure function of the corpus) collapsed to survivor manifest via
    // connected components. The oracle reuses the q_simhash_pairs CTE
    // body verbatim (NonOracleQueries.simhashPairCtes) and replays the
    // clustering as the same recursive min-reachable-id closure the
    // q_dup_clusters oracle proved against the engine's pointer-jumping
    // rounds — min label is iteration-order-independent, so both engines
    // must land on identical clusters.
    GraftQuery(
      "q_media_curate_text",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.simhashNearDupReplayable(
          docs, "doc_id", "text", maxHamming = 7, chunks = 4)
        manifest(docs, "doc_id", pairs, "text")
          .select("item_id", "cluster", "is_canonical")
          .withColumnRenamed("item_id", "doc_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${NonOracleQueries.simhashPairCtes},
             |p AS (SELECT id_a AS ia, id_b AS ib FROM cand
             |      WHERE bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) <= 7),
             |e AS MATERIALIZED (SELECT ia AS u, ib AS v FROM p UNION SELECT ib, ia FROM p),
             |reach(node, root) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT e.v, r.root FROM reach r JOIN e ON e.u = r.node)
             |SELECT node AS doc_id, min(root) AS cluster,
             |       CASE WHEN min(root) = node THEN 1 ELSE 0 END AS is_canonical
             |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin)),

    // Full four-modality curation manifest: text/image/audio/video each
    // decode → fingerprint → hamming pair graph → CC → survivors, one
    // manifest row per item, union'd and totally ordered. Image/audio
    // pair at the same (maxHamming=6, chunks=4) contract their dedicated
    // queries verify; video pairs by temporally-aligned frame agreement
    // (≥3 of 4 same-index frames within hamming 6). JVM codec bytes are
    // not SQL-replayable → rows-only; MediaCurateSpec pins the manifest
    // against the planted group structure in every modality.
    GraftQuery(
      "q_media_curate",
      (s, d) => {
        val mm = graft.multimodal.Multimodal
        val docs = Tables.documents(s, d)
        val textPairs = Dedup.simhashNearDupReplayable(
          docs, "doc_id", "text", maxHamming = 7, chunks = 4)
        // items side = id-only membership frames (no codec work);
        // fingerprints render each corpus exactly once. Image/audio
        // labels come from the support-sized cluster path — the member
        // pair list (quadratic once the perceptual-hash manifold
        // saturates) is never materialized; q_image/audio_near_dup keep
        // the pair-level contract for consumers that want pairs.
        val images = mm.syntheticImageAudioCorpusIds(s, d)
        val imageLabels = Dedup.hammingNearDupClusters(
          mm.imageDhash(mm.syntheticImageCorpusMemo(s, d)).toDF(),
          "media_id", "dhash", maxHamming = 6)
        val audios = mm.syntheticImageAudioCorpusIds(s, d)
        val audioLabels = Dedup.hammingNearDupClusters(
          mm.audioFingerprints(mm.syntheticAudioCorpusMemo(s, d)).toDF(),
          "media_id", "afp", maxHamming = 6)
        val videos = mm.syntheticVideoCorpusIds(s, d)
        val videoPairs = mm.videoNearDupPairs(
          mm.syntheticVideoCorpusMemo(s, d),
          everyMs = 200L, maxHamming = 6, minMatchedFrames = 3)
        // the label frames are caller-owned caches: materialize their
        // (item-sized) manifest rows before releasing them
        val labelled = manifestFromLabels(images, "media_id", imageLabels, "image")
          .unionAll(manifestFromLabels(audios, "media_id", audioLabels, "audio"))
          .localCheckpoint(true)
        imageLabels.unpersist(); audioLabels.unpersist()
        manifest(docs, "doc_id", textPairs, "text")
          .unionAll(labelled)
          .unionAll(manifest(videos, "media_id", videoPairs, "video"))
          .orderBy("modality", "item_id")
      }))
}
