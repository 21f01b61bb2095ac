package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.{Components, Dedup}

/** End-to-end training-corpus preparation — the composition every stage of
  * which is an individually oracle-checked operator:
  *
  *   normalize → exact dedup → near-dup clusters (LSH) → one
  *   representative per cluster → quality filter → split assignment →
  *   token-budget packing
  *
  * Everything is deterministic: hash-based winners, md5-bucket splits,
  * ordered packing — the same corpus in produces byte-identical prep out
  * on any cluster size, partitioning, or rerun. Shuffle profile at scale:
  * exact dedup ships 16-byte digests; LSH ships (id, size, band) rows;
  * cluster resolution and packing ship ids and token counts — document
  * bodies stay columnar in the scan until the final projection.
  */
object CorpusPipeline {

  final case class Config(
      textCol: String = "text",
      idCol: String = "doc_id",
      groupCol: String = "lang",
      jaccardThreshold: Double = 0.8,
      minTokens: Int = 5,
      maxDupTokenRatio: Double = 0.6,
      packBudget: Long = 2000,
      trainPct: Int = 80,
      validationPct: Int = 10,
      // crawl corpora arrive as MARKUP: htmlInput prepends the
      // extraction stage (TextFunctions.extractHtmlText) so the pipeline
      // starts at the wire format, not at already-clean text. Spec-proven
      // equivalence: prepare(markup, htmlInput=true) ≡
      // prepare(extracted text) row for row.
      htmlInput: Boolean = false)

  /** Returns the prepared corpus: input columns + `split` + `pack_id`,
    * one row per kept document (with `textCol` holding the EXTRACTED
    * text when `htmlInput` is set). */
  def prepare(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val id = col(cfg.idCol)

    // 0. optional wire-format stage: HTML → text before any dedup (a
    // page's markup noise must not defeat exact dedup of equal content)
    val input =
      if (cfg.htmlInput)
        docs.withColumn(cfg.textCol, extractHtmlText(col(cfg.textCol)))
      else docs
    val text = col(cfg.textCol)

    // 1. exact dedup on normalized text: winner = min id per digest
    val keyed = input.withColumn("__norm_hash", md5(normalizeText(text)))
    val exactKept = Clean.dedupByKey(keyed, Seq("__norm_hash"), Seq(id))
      .drop("__norm_hash")

    // 2. near-dup pairs (LSH, exact-verified) → clusters → representatives
    val pairs = Dedup.minhashNearDups(exactKept, cfg.textCol, cfg.idCol,
      cfg.jaccardThreshold)
    val reps = Components.keepRepresentatives(exactKept, cfg.idCol, pairs, "id_a", "id_b")
    // the fixpoint above materialized its labels; the eager pair frame's
    // checkpoint blocks have no further reader — release them now
    org.apache.spark.sql.GraftShim.unpersistCheckpoint(pairs)

    // 3. quality filter: token floor + repeated-token ceiling, over the
    // NORMALIZED tokenization — tokens() contracts single-space-normalized
    // input, and this pipeline's own step 1 proves raw text may not be
    // (raw tokens would count empty strings between double spaces and fuse
    // newline-separated words)
    val w = tokens(normalizeText(text))
    val nW = size(w).cast("double")
    val dupRatio = lit(1.0) - size(array_distinct(w)).cast("double") / nW
    val filtered = reps
      .withColumn("__n_tokens", size(w))
      .filter(col("__n_tokens") >= cfg.minTokens && dupRatio <= cfg.maxDupTokenRatio)

    // 4. deterministic split + per-(group, split) token-budget packing
    val labeled = filtered.withColumn("split",
      Sampling.splitLabel(id, cfg.trainPct, cfg.validationPct))
    Packing.withPackId(labeled, "__n_tokens", cfg.packBudget,
        Seq(cfg.groupCol, "split"), cfg.idCol)
      .drop("__n_tokens")
  }
}
