package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation: the composed pipeline a
  * large-scale LLM data run executes, in the order that minimizes work at
  * 100 TB —
  *
  *  1. annotate: language ID, token count, quality signals (one narrow
  *     codegen'd pass, no shuffle);
  *  2. filter: language allowlist + token-length band + quality
  *     thresholds (cheap row filters FIRST, so every later stage sees
  *     only survivors);
  *  3. exact dedup: hash-groupBy on md5 fingerprint (16-byte shuffle
  *     keys);
  *  4. near dedup: MinHash-LSH pairs → connected components → keep the
  *     min-id survivor per cluster (only bucket-mates are compared);
  *  5. decontaminate (optional): drop survivors sharing a word n-gram
  *     with an eval benchmark — AFTER dedup so the shingle semi-join
  *     scans only survivors;
  *  6. split (optional): attach a deterministic md5-hash-ranged
  *     train/val/test label (pure map — see [[Splits]]).
  *
  * Returns surviving rows with the annotation columns attached —
  * downstream tokenization reads `n_tokens`/`lang` for free.
  */
object CorpusCuration {

  /** Annotation pass only (stage 1): adds `lang`, `n_tokens`,
    * `uniq_ratio`, `stopword_ratio`, `alpha_ratio`. */
  def annotate(df: DataFrame, textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    df
      .withColumn("lang", TextFunctions.langIdFast(col(textCol)))
      .withColumn("n_tokens", TextFunctions.tokenCount(col(textCol)))
      .withColumn("uniq_ratio",
        size(array_distinct(toks)).cast("double") / greatest(size(toks), lit(1)))
      // regex alternation, not filter(toks, isin(...)): the lambda HOF is
      // CodegenFallback and drags the WHOLE annotate projection out of
      // whole-stage codegen — this stage is the full-corpus scan, so it
      // must stay fused. \b-bounded alternation counts the same hits on
      // whitespace-tokenized text.
      .withColumn("stopword_ratio",
        size(regexp_extract_all(lower(col(textCol)),
          lit("\\b(" + TextFunctions.languageMarkers("en").mkString("|") + ")\\b"),
          lit(0)))
          .cast("double") / greatest(size(toks), lit(1)))
      .withColumn("alpha_ratio",
        (length(regexp_replace(col(textCol), "[^A-Za-z]", "")).cast("double")
          / greatest(length(col(textCol)), lit(1))))
  }

  /** Full pipeline. Thresholds default to the permissive end — tighten
    * per corpus. `nearDup = false` skips stage 4 (the only stage with a
    * candidate join). */
  def curate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      keepLangs: Set[String] = Set("en"),
      minTokens: Long = 1L,
      maxTokens: Long = 1000000L,
      minUniqRatio: Double = 0.0,
      minAlphaRatio: Double = 0.0,
      nearDup: Boolean = true,
      nearDupExact: Boolean = false,
      nearDupThreshold: Double = 0.8,
      benchmark: Option[DataFrame] = None,
      benchmarkTextCol: String = "text",
      decontaminateN: Int = 8,
      splitCol: Option[String] = None): DataFrame = {

    val annotated = annotate(df, textCol)

    val filtered = annotated
      .filter(col("lang").isin(keepLangs.toSeq.map(lit): _*))
      .filter(col("n_tokens").between(minTokens, maxTokens))
      .filter(col("uniq_ratio") >= minUniqRatio)
      .filter(col("alpha_ratio") >= minAlphaRatio)

    val deduped = if (!nearDup) Dedup.exact(filtered, idCol, textCol)
    else {
      // The exact-dedup survivors feed the near-dup stage in TWO places
      // inside the pair call (signature scan, candidate-shingle
      // semi-join) and once after it (final survivor anti-join). Persist
      // once so the annotate+filter+dedup chain runs one time; at 100 TB
      // this is the natural parquet checkpoint between the exact and
      // near stages. Cache lives as long as the returned lazy plan —
      // clearCache() between unrelated corpora.
      val exactDeduped = Dedup.exact(filtered, idCol, textCol).persist()
      // nearDupExact swaps MinHash candidates for the exact-threshold
      // pair graph — survivors become a deterministic function of the
      // corpus (no LSH recall term), which a SQL oracle can replay.
      if (nearDupExact)
        Dedup.dedupNearExact(exactDeduped, idCol, textCol,
          threshold = nearDupThreshold)
      else
        Dedup.dedupNear(exactDeduped, idCol, textCol,
          threshold = nearDupThreshold)
    }
    val cleaned = benchmark.fold(deduped)(b =>
      Decontaminate.clean(deduped, idCol, textCol, b, benchmarkTextCol,
        decontaminateN))
    splitCol.fold(cleaned)(c => cleaned.withColumn(c, Splits.split(col(idCol))))
  }
}
