package graft.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.runtime.StageCheckpoint
import graft.text.TextAnalysis

/**
 * The composed training-corpus curation pipeline: the full sequence a web-scale
 * pipeline runs between raw ingest and tokenization, assembled from the operators
 * that are individually oracle-checked (q13–q24, q41–q50):
 *
 *   1. quality gate      — token-count floor + Gopher-style repetition ceiling
 *                          (ONE fused zero-shuffle projection: `repetition_stats`
 *                          native kernel + token count computed in the same scan)
 *   2. dedup             — exact md5 keep-min, then Jaccard near-dup clusters via
 *                          connected components; only canonical representatives pass
 *   3. decontamination   — drop docs sharing any word n-gram shingle with the
 *                          eval/benchmark set (eval side broadcast)
 *   4. PII redaction     — emails/IPs/phones scrubbed, audit counts kept
 *   5. mixing            — md5-deterministic stratified sampling, per-domain quota
 *                          cap, per-stratum token-budget packing
 *
 * Stage ORDER is deliberate: the cheap narrow quality gate runs first so every
 * downstream shuffle (dedup's posting/CC joins) sees only surviving docs; dedup runs
 * before decontamination so each surviving cluster is checked once, not once per
 * duplicate; redaction precedes mixing so token budgets count post-redaction tokens.
 *
 * [[runCheckpointed]] materializes every stage through [[StageCheckpoint]] — the
 * north-rule resumable shape: a re-submitted run resumes at its first incomplete
 * stage, and each stage's commit record (the rows its write counted) stays readable.
 */
object CuratePipeline {

  /** Knobs, all engine-portable (md5-derived randomness, fixed-point thresholds). */
  final case class Config(
      minTokens: Long = 10L,
      maxDupBp: Long = 5000L,
      repetitionN: Int = 2,
      dedupMinJaccardBp: Long = 3000L,
      decontaminateN: Int = 8,
      sampleRatesBp: Map[String, Long] = Map.empty,
      sampleDefaultBp: Long = 10000L, // 10000 = keep everything
      quotaK: Int = Int.MaxValue,
      budgets: Map[String, Long] = Map.empty,
      defaultBudget: Long = Long.MaxValue / 4) {
    /** Rendered into the stage fingerprints: any knob change recomputes. */
    def fingerprint: String =
      s"v1|$minTokens|$maxDupBp|$repetitionN|$dedupMinJaccardBp|$decontaminateN|" +
        s"${sampleRatesBp.toSeq.sorted.mkString(",")}|$sampleDefaultBp|$quotaK|" +
        s"${budgets.toSeq.sorted.mkString(",")}|$defaultBudget"
  }

  /** Stage 1 — fused quality gate: one narrow projection computes the token count
    * AND the repetition stats (native kernel), then filters. Zero shuffle. */
  def qualityGate(docs: DataFrame, cfg: Config): DataFrame =
    docs
      .withColumn("n_toks", TextAnalysis.wsTokenCount(col("text")))
      .withColumn("__r",
        call_function("repetition_stats", col("text"), lit(cfg.repetitionN)))
      .withColumn("dup_bp",
        when(col("__r.n_grams") > 0,
          floor((col("__r.n_grams") - col("__r.n_distinct")) * 10000L /
            col("__r.n_grams")))
          .otherwise(0L))
      .drop("__r")
      .filter(col("n_toks") >= cfg.minTokens && col("dup_bp") <= cfg.maxDupBp)

  /** Stage 2 — keep one canonical representative per exact/near-dup cluster. */
  def dedupCanonical(docs: DataFrame, cfg: Config)(
      implicit spark: SparkSession): DataFrame = {
    val canon = Dedup.canonicalDocs(docs, "doc_id", "text",
      minJaccardBp = cfg.dedupMinJaccardBp)
    docs.join(canon.filter(col("doc_id") === col("canon_id")).select("doc_id"),
      Seq("doc_id"), "left_semi")
  }

  /** Stage 3 — benchmark decontamination: anti-join against the flagged set. */
  def decontaminate(docs: DataFrame, evalSet: DataFrame, cfg: Config): DataFrame =
    docs.join(
      Dedup.contaminatedDocs(docs, evalSet, "doc_id", "text", cfg.decontaminateN)
        .select("doc_id"),
      Seq("doc_id"), "left_anti")

  /** Stage 4 — PII scrub; the curated text IS the redacted text from here on.
    * A pure projection (audit counts + rewrite in one narrow pass, sharing
    * [[TextAnalysis]]'s single definition of the rule chain) — NOT a join-back of
    * [[TextAnalysis.redactPii]]'s output, which would build a same-lineage
    * self-join (the ambiguous pattern the Eval scorer had to be cured of). */
  def redact(docs: DataFrame): DataFrame = {
    val t = col("text")
    docs
      .withColumn("n_emails", TextAnalysis.piiEmailCount(t))
      .withColumn("n_ips", TextAnalysis.piiIpCount(t))
      .withColumn("n_phones", TextAnalysis.piiPhoneCount(t))
      .withColumn("text", TextAnalysis.redactedText(t))
  }

  /** Stage 5 — mixing: sample → domain quota → token budget, all deterministic.
    *
    * Disabled knobs cost nothing: with `quotaK = Int.MaxValue` the per-domain window
    * shuffle is skipped entirely (no `rank` audit column), and with no budgets
    * configured the per-stratum cumulative window is replaced by a narrow
    * token-count projection (no `cum_toks` column) — the common "no quota" config
    * must not pay two corpus-wide shuffles that filter nothing. */
  def mix(docs: DataFrame, cfg: Config): DataFrame = {
    // ONE post-redaction token count, computed up front and consumed by BOTH mixing
    // stages (quota ranking and budget packing) and carried as the output audit
    // column — the two stages must never prioritize documents by different token
    // definitions, and the meaning of n_toks must not depend on which knobs are on.
    val withToks = docs.withColumn("n_toks", TextAnalysis.wsTokenCount(col("text")))
    val sampled = Curation.stratifiedSample(withToks, "doc_id", "lang",
      cfg.sampleRatesBp, cfg.sampleDefaultBp)
    val capped =
      if (cfg.quotaK == Int.MaxValue) sampled
      else Curation.domainQuota(sampled, "doc_id", "source", "n_toks", cfg.quotaK)
    if (cfg.budgets.isEmpty && cfg.defaultBudget == Long.MaxValue / 4) capped
    else Curation.tokenBudgetMix(capped, "doc_id", "lang", "text",
      cfg.budgets, cfg.defaultBudget)
  }

  /** The whole pipeline, un-checkpointed (test/composition surface). */
  def run(docs: DataFrame, evalSet: DataFrame, cfg: Config = Config())(
      implicit spark: SparkSession): DataFrame =
    mix(redact(decontaminate(dedupCanonical(qualityGate(docs, cfg), cfg),
      evalSet, cfg)), cfg)

  /**
   * Resumable production path: every stage materializes under `stageDir` with a
   * commit record of the rows its write counted; a re-submitted run with the same
   * (inputFingerprint, config) resumes at its first incomplete stage. Returns the
   * curated corpus; `cps.lineage("c5_mix")` etc. read the per-stage records.
   */
  def runCheckpointed(docs: DataFrame, evalSet: DataFrame, cfg: Config,
      stageDir: String, inputFingerprint: String)(
      implicit spark: SparkSession): DataFrame = {
    val cps = StageCheckpoint(stageDir)
    val fp = inputFingerprint + "|" + cfg.fingerprint
    // The eval set is an INPUT to decontamination: its content identity must be in
    // the fingerprint of c3 and everything downstream, or a resumed run with a new
    // benchmark would silently reuse stale decontamination output — the exact leak
    // the stage exists to prevent. One tiny job (eval sets are MB-scale by contract).
    val fpEval = fp + "|eval=" + evalFingerprint(evalSet)
    val s1 = cps.materialize("c1_quality", fp)(qualityGate(docs, cfg))
    val s2 = cps.materialize("c2_dedup", fp)(dedupCanonical(s1, cfg))
    val s3 = cps.materialize("c3_decontaminate", fpEval)(decontaminate(s2, evalSet, cfg))
    val s4 = cps.materialize("c4_redact", fpEval)(redact(s3))
    cps.materialize("c5_mix", fpEval)(mix(s4, cfg))
  }

  /** Order-insensitive content hash of the eval set: xor of per-row xxhash64 over all
    * columns, plus the row count (so an empty set is distinct from a cancelling xor). */
  private[graft] def evalFingerprint(evalSet: DataFrame): String = {
    val r = evalSet.agg(
      coalesce(expr(s"bit_xor(xxhash64(${evalSet.columns.mkString(", ")}))"), lit(0L)),
      count(lit(1))).head()
    s"${java.lang.Long.toHexString(r.getLong(0))}:${r.getLong(1)}"
  }
}
