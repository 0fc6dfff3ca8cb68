package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for a large-scale training-data pipeline: token counting,
 * quality scoring, language identification, document fingerprinting.
 *
 * All of these are narrow per-row transforms built from `org.apache.spark.sql.functions`
 * (whole-stage-codegen'd) — no UDFs, no shuffle. At 100 TB they run map-side at scan
 * speed, and their filters/projections push down into the parquet/Iceberg reader.
 *
 * Plays the role of the reference's per-document text transforms
 * (/root/reference/src/gate/GateBatch.java:327-352 normalization,
 * /root/reference/src/util/CleanDocs.java:16-60 cleanup) generalized to the corpus-QA
 * operations a web-scale corpus needs before training.
 */
object TextAnalysis {

  /** Whitespace tokens of a text column (empty string → empty array). */
  def wsTokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  /** wsTokens WITHOUT the empty-token filter lambda (regexp edge-trim + split):
    * identical except an all-whitespace/empty input yields `[""]` instead of `[]`.
    * Explode sites use this and drop the "" row with a codegen'd length filter —
    * `explode(wsTokens(...))` would interpret the whole feeding projection (the
    * higher-order `filter` is CodegenFallback). */
  def wsTokensRaw(text: Column): Column =
    split(regexp_replace(text, "^\\s+|\\s+$", ""), "\\s+")

  /** `size(wsTokens(text))` without the lambda, for count-only consumers; equality
    * with the lambda form is property-pinned in TextOpsSpec. */
  def wsTokenCount(text: Column): Column = {
    // regexp trim, NOT trim(): Spark's trim strips ONLY spaces, so a tab/newline at
    // the string edge would survive and split() would emit a phantom empty token
    // (caught by the TextOpsSpec fuzz property)
    val t = regexp_replace(text, "^\\s+|\\s+$", "")
    when(length(t) === 0, lit(0)).otherwise(size(split(t, "\\s+"))).cast("long")
  }

  /** BPE-ish subword tokens: runs of alphanumerics or single non-space punctuation
    * marks — the classic pre-tokenizer regex (RE2-safe: no lookarounds). */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /**
   * Corpus token vocabulary for tokenizer training: lowercase whitespace tokens with
   * corpus frequency >= `minCount`, ranked by (count desc, token asc — fully
   * deterministic) and truncated to the `topN` head. This is the seed table a BPE/
   * WordPiece trainer consumes (and the frequency feed for the reference's value-prob
   * priors, /root/reference/sql/ner_prob.sql analog at the corpus level).
   *
   * Scale shape: explode → one hash-aggregate shuffle keyed by token (map-side
   * partials absorb Zipf skew: "the" partially counts on every mapper before one
   * reducer sees it); the global topN ranking is a TakeOrderedAndProject over the
   * (already minCount-filtered) vocabulary, never a single-partition full sort and
   * never a global window. Rank is derivable from the returned (n desc, token asc)
   * total order, so no rank column is materialized.
   */
  def vocabulary(df: DataFrame, textCol: String, minCount: Long, topN: Int): DataFrame =
    df.select(explode(wsTokensRaw(lower(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .orderBy(desc("n"), asc("token"))
      .limit(topN)

  /** English-ish stopwords used for quality scoring (deterministic, frozen list). */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "at", "by", "be", "are")

  /**
   * Per-document quality metrics:
   *   n_tokens      whitespace token count
   *   n_bpe_tokens  BPE-ish subword count
   *   n_chars_m     measured character count
   *   punct_ratio   punctuation chars / chars           (x10000, floor — integer, exact)
   *   stop_ratio    stopword tokens / tokens            (x10000, floor — integer, exact)
   *   mean_tok_len  total token chars / tokens          (x100, floor — integer, exact)
   * Ratios are emitted as floor'd fixed-point integers so results are bit-identical
   * across engines and parallelism levels (no float summation order, no cast-rounding
   * dialect differences).
   */
  def quality(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val stopArr = array(stopwords.map(lit): _*)
    // Materialize the token array and the scalar counts ONCE per row in staged
    // projections. Inlining `toks` into every metric expression duplicates the
    // split/filter subtree ~10×, which blows up generated code (observed 200s on 500
    // rows); CollapseProject keeps multiply-referenced non-cheap aliases staged.
    val staged = df
      .withColumn("__toks", wsTokens(t))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
      .withColumn("n_bpe_tokens", size(bpeTokens(t)).cast("long"))
      .withColumn("n_chars_m", length(t).cast("long"))
      .withColumn("__punct",
        (length(t) - length(regexp_replace(t, "[^A-Za-z0-9\\s]", ""))).cast("long"))
      .withColumn("__stop",
        size(filter(col("__toks"), x => array_contains(stopArr, lower(x)))).cast("long"))
      .withColumn("__tokchars",
        aggregate(col("__toks"), lit(0), (acc, x) => acc + length(x)).cast("long"))
    staged
      .withColumn("punct_ratio_bp",
        when(col("n_chars_m") > 0,
          floor(col("__punct") * 10000L / col("n_chars_m"))).otherwise(0L))
      .withColumn("stop_ratio_bp",
        when(col("n_tokens") > 0,
          floor(col("__stop") * 10000L / col("n_tokens"))).otherwise(0L))
      .withColumn("mean_tok_len_c",
        when(col("n_tokens") > 0,
          floor(col("__tokchars") * 100L / col("n_tokens"))).otherwise(0L))
      .drop("__toks", "__punct", "__stop", "__tokchars")
  }

  /**
   * Gopher-style repetition metrics per document (one row per doc with >= n tokens):
   *   n_grams     total word n-grams (with multiplicity)
   *   n_distinct  distinct word n-grams
   *   top_cnt     occurrence count of the single most repeated n-gram
   *   dup_bp      duplicated-gram fraction (n_grams - n_distinct) / n_grams, in basis
   *               points (floor — integer, exact across engines)
   * High dup_bp / top_cnt flags boilerplate and degenerate repetition ("subscribe
   * subscribe subscribe ...") that web-corpus quality filters drop before training.
   *
   * Runs on the NATIVE codegen kernel `repetition_stats`
   * ([[graft.functions.RepetitionStats]]): one JIT-compiled pass per document — no
   * gram explosion, ZERO shuffle; at 100 TB this is a narrow map at scan speed.
   * Bit-identical to the explode + two keyed aggregations formulation (FunctionsSpec's
   * parity oracle).
   */
  def repetition(df: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame =
    df.select(col(idCol).as("doc_id"),
        call_function("repetition_stats", col(textCol), lit(n)).as("r"))
      .filter(col("r.n_grams") > 0)
      .select(col("doc_id"), col("r.n_grams").as("n_grams"),
        col("r.n_distinct").as("n_distinct"), col("r.top_cnt").as("top_cnt"))
      .withColumn("dup_bp",
        floor((col("n_grams") - col("n_distinct")) * 10000L / col("n_grams")))

  /** PII patterns for pre-training scrubbing (RE2-safe — no lookarounds — so the
    * DuckDB oracle replays them verbatim). Order matters: emails first (their local
    * part can contain digit runs a later rule would mangle), then IPs, then phones. */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIp = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiPhone = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /**
   * PII redaction — the scrub a web corpus runs before training: emails → `<EMAIL>`,
   * IPv4 addresses → `<IP>`, NNN-NNN-NNNN phones → `<PHONE>`, with per-doc match
   * counts for audit. Pure builtin regexp columns (codegen, narrow, zero-shuffle);
   * at 100 TB this rides the ingest projection at scan speed.
   */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol).as("doc_id"), redactedText(t).as("redacted"),
      piiEmailCount(t).as("n_emails"), piiIpCount(t).as("n_ips"),
      piiPhoneCount(t).as("n_phones"))
  }

  /** The PII replacement chain as a Column — the ONE definition of rule order; every
    * redaction surface (this table op, the curation pipeline stage) composes it. */
  def redactedText(t: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(t,
      PiiEmail, "<EMAIL>"), PiiIp, "<IP>"), PiiPhone, "<PHONE>")

  /** Audit-count columns matching [[redactedText]]'s rules. */
  def piiEmailCount(t: Column): Column =
    size(regexp_extract_all(t, lit(PiiEmail), lit(0))).cast("long")
  def piiIpCount(t: Column): Column =
    size(regexp_extract_all(t, lit(PiiIp), lit(0))).cast("long")
  def piiPhoneCount(t: Column): Column =
    size(regexp_extract_all(t, lit(PiiPhone), lit(0))).cast("long")

  /** Frozen per-language marker-word profiles for the n-gram/stopword language-ID
    * heuristic. Deterministic; no model download (zero-egress). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "with", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "pour", "dans"),
    "es" -> Seq("el", "los", "las", "es", "que", "para", "con", "una"),
    "zh" -> Seq("de", "shi", "le", "zai", "you", "wo", "ta", "men"))

  /**
   * Language-ID: score = count of marker-word hits per language over the lowercased
   * whitespace tokens; predicted language = argmax score (ties broken by language code
   * ascending; score 0 → "und").
   *
   * Shape: explode tokens → broadcast-join the (marker, lang) dictionary → two-level
   * aggregate → per-doc argmax window. Every operator whole-stage-codegens (the
   * previous all-in-one higher-order-function formulation evaluated interpreted and ran
   * ~30× slower than this); the shuffle after partial aggregation is ≤ docs × 5 rows.
   */
  def langId(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val markerDf = langMarkers.toSeq.sortBy(_._1)
      .flatMap { case (lg, ws) => ws.map(w => (w, lg)) }.toDF("tok", "mlang")
    val toks = df.select(col(idCol),
        explode(wsTokensRaw(lower(col(textCol)))).as("tok"))
      .filter(length(col("tok")) > 0)
    val scores = toks.join(broadcast(markerDf), Seq("tok"))
      .groupBy(col(idCol), col("mlang")).agg(count(lit(1)).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(desc("score"), asc("mlang"))
    val best = scores.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col(idCol), col("mlang").as("lang_pred0"), col("score").as("lang_score0"))
    df.join(best, Seq(idCol), "left")
      .withColumn("lang_pred", coalesce(col("lang_pred0"), lit("und")))
      .withColumn("lang_score", coalesce(col("lang_score0"), lit(0L)))
      .drop("lang_pred0", "lang_score0")
  }

  /**
   * Unigram language-model surprisal — the integer-exact analog of the CCNet/Gopher
   * perplexity quality filter: documents whose tokens are improbable under a
   * reference unigram model (gibberish, non-language bytes, keyword stuffing) score
   * high and get dropped; flat boilerplate scores low.
   *
   * The model is the `topV` head of the reference corpus vocabulary with add-one
   * smoothing: p(tok) = (cnt+1)/(T+V+1), OOV = 1/(T+V+1), where T = total reference
   * tokens and V = kept vocabulary size (the cap is the model's own contract — an
   * explicit size knob, not a silent truncation). Per-token surprisal is the
   * LOG2-BUCKETED inverse probability computed entirely in integer arithmetic:
   *
   *   surp(tok) = floor(log2((T+V+1)/(cnt+1))) = length(bin((T+V+1) div (cnt+1))) - 1
   *
   * (for ints a >= b >= 1, 2^k <= a/b < 2^(k+1) iff 2^k <= a div b < 2^(k+1), so the
   * bit-length of the integer quotient IS the floor-log2 of the rational — no
   * floating-point log anywhere, bit-identical across engines and parallelism).
   *
   * Returns one row per document: n_tokens, n_oov, and mean_surp_cb = mean token
   * surprisal in centibits (floor — integer, exact). Docs with no tokens score 0.
   *
   * Scale shape: the model is ONE token-keyed aggregation (map-side partials absorb
   * Zipf skew) + a TakeOrderedAndProject head; T and V are two driver scalars.
   * Scoring is explode → broadcast join against the <= topV-row model → one
   * doc-keyed aggregation. At 100 TB the model comes from a sampled reference slice
   * and the corpus side stays a narrow scan + broadcast lookup.
   */
  def surprisalModel(ref: DataFrame, textCol: String = "text",
      topV: Int = 50000): (DataFrame, Long, Long) = {
    val counts = ref
      .select(explode(wsTokensRaw(lower(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum("cnt"), count(lit(1))).head()
    val t = Option(totals.get(0)).fold(0L)(_.asInstanceOf[Long])
    val model = counts.orderBy(desc("cnt"), asc("token")).limit(topV)
    (model, t, math.min(totals.getLong(1), topV.toLong))
  }

  def surprisalScore(df: DataFrame, model: DataFrame, totalTokens: Long,
      vocabSize: Long, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val denom = totalTokens + vocabSize + 1L
    val surp = length(bin(expr(s"$denom DIV (coalesce(cnt, 0L) + 1L)"))) - 1L
    val scored = df
      .select(col(idCol).as("doc_id"),
        explode(wsTokensRaw(lower(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      .join(broadcast(model), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(surp).as("__s"))
      .withColumn("mean_surp_cb", floor(col("__s") * 100L / col("n_tokens")))
      .drop("__s")
    df.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("mean_surp_cb"), lit(0L)).as("mean_surp_cb"))
  }

  /** [[surprisalModel]] + [[surprisalScore]] with the corpus as its own reference —
    * the self-scored form the q59 oracle checks. */
  def surprisal(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      topV: Int = 2000): DataFrame = {
    val (model, t, v) = surprisalModel(df, textCol, topV)
    surprisalScore(df, model, t, v, idCol, textCol)
  }

  /**
   * Document fingerprint: md5 of the casefolded, whitespace-collapsed text — the
   * canonical-form hash used for exact near-canonical dedup. Plus a 64-bit rolling
   * hash (xxhash64) for cheap clustering keys.
   */
  def fingerprint(df: DataFrame, textCol: String = "text"): DataFrame = {
    val canon = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    df.withColumn("fp_md5", md5(canon))
      .withColumn("fp_x64", xxhash64(canon))
  }
}
