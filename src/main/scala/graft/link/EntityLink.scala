package graft.link

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Entity linking: blocking + Jaccard candidate scoring.
 *
 * The scale-first analog of the reference's value-probability dictionary pass and
 * duplicate propagation (/root/reference/src/msa/AutoAnnotateNER.java:2294-2535,
 * src/msa/pipeline/AnnotateDuplicate.java:106-270): distinct surface forms are grouped
 * into blocks by a cheap deterministic key, candidate pairs are generated ONLY within a
 * block (never a global cross join), and pairs at token-Jaccard ≥ τ become link edges
 * for connected-components canonicalization.
 *
 * Two blocking FAMILIES are unioned (every form lands in one block per family), so a
 * form silently dropped from an over-cap block in one family can still pair through
 * the other:
 *  - `a:` (first alpha char, token count) of the normalized form — cheap, high recall
 *    for near-identical names;
 *  - `m:` one-permutation MinHash of the token set (the lexicographically minimal
 *    md5-prefix over tokens) — two aliases land together whenever their shared token
 *    happens to be the minimal one, with probability equal to their token Jaccard,
 *    INDEPENDENT of first-char/length agreement.
 * A per-block candidate cap (analogous to the reference's per-doc count cap 50,
 * BestPatterns.java:441-443) bounds the quadratic blow-up on mega-blocks — and per
 * the no-silent-caps rule the dropped-per-block counts are LOGGED at call time and
 * exposed relationally via [[blockAudit]]; AQE skew-join splitting handles residual
 * imbalance. Pairs surfacing in both families are deduplicated before scoring output.
 */
object EntityLink {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The two block keys of a normalized form, as an array (exploded into one row per
    * family). All builtin codegen columns — no UDF at canonicalization time. */
  private def blockKeys(norm: org.apache.spark.sql.Column,
      toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column = array(
    concat(lit("a:"), substring(norm, 1, 1), lit(":"), size(toks)),
    concat(lit("m:"), array_min(transform(toks, t => substring(md5(t), 1, 12)))))

  /** Normalized + exploded-by-family blocking relation shared by both scorers. */
  private def blocked(forms: DataFrame): DataFrame =
    forms
      // builtin (codegen) normalization — this runs over every distinct subject form
      // at canonicalization time, so no Scala UDF in the path
      .withColumn("norm", trim(regexp_replace(lower(col("form")), "[^a-z0-9]+", " ")))
      .filter(length(col("norm")) > 0)
      .withColumn("toks", array_distinct(split(col("norm"), " ")))
      .withColumn("block", explode(blockKeys(col("norm"), col("toks"))))

  /** Per-block cap (mega-entity guard); tie-break on the unique form so colliding
    * normalized forms keep a parallelism-invariant winner set. */
  private def cap(blockedForms: DataFrame, maxBlockSize: Int): DataFrame =
    blockedForms
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("block")
          .orderBy("norm", "form")))
      .filter(col("rn") <= maxBlockSize).drop("rn")

  /**
   * Relational drop audit for the block cap: one row per over-cap (family-tagged)
   * block with its total form count and how many forms the cap discards — the
   * queryable face of the no-silent-caps rule.
   */
  def blockAudit(forms: DataFrame, maxBlockSize: Int = 1000): DataFrame =
    blocked(forms.select(col("form")).distinct())
      .groupBy("block").agg(count(lit(1)).as("n_forms"))
      .filter(col("n_forms") > maxBlockSize)
      .withColumn("n_dropped", col("n_forms") - maxBlockSize)

  /** Eager one-job drop counter (tiny aggregate over distinct forms) — logged per the
    * no-silent-caps rule; recall loss must never be invisible. */
  private def logDrops(who: String, blockedForms: DataFrame, maxBlockSize: Int): Unit = {
    val r = blockedForms.groupBy("block").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBlockSize)
      .agg(coalesce(sum(col("n") - maxBlockSize), lit(0L)), count(lit(1))).head()
    if (r.getLong(1) > 0)
      log.warn(s"$who: block cap $maxBlockSize dropped ${r.getLong(0)} form slots " +
        s"across ${r.getLong(1)} over-cap blocks (recall loss — see blockAudit)")
    else log.info(s"$who: no blocks over cap $maxBlockSize")
  }

  /**
   * @param forms DataFrame with a single column `form` (distinct surface forms).
   * @return edges (src, dst) with jaccard ≥ minJaccard, src < dst lexicographically,
   *         deduplicated across blocking families.
   */
  def candidateEdges(forms: DataFrame, minJaccard: Double = 0.5,
      maxBlockSize: Int = 1000)(implicit spark: SparkSession): DataFrame = {
    val normed = blocked(forms.select(col("form")).distinct())
    logDrops("candidateEdges", normed, maxBlockSize)
    val capped = cap(normed, maxBlockSize)
    val a = capped.select(col("form").as("src"), col("toks").as("ta"), col("block"))
    val b = capped.select(col("form").as("dst"), col("toks").as("tb"), col("block"))
    a.join(b, Seq("block"))
      .filter(col("src") < col("dst"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("uni", size(array_union(col("ta"), col("tb"))))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= minJaccard)
      // the same pair may surface through both families — jaccard is a pure function
      // of the pair, so plain distinct dedupes exactly
      .select("src", "dst", "jaccard")
      .distinct()
  }

  /**
   * Embedding-scored variant (the north rule's "Jaccard/embedding candidate
   * scoring"): identical blocking over the normalized form, but within-block
   * candidate pairs are scored by quantized cosine of a per-form embedding instead of
   * token Jaccard — linking aliases whose context vectors agree even when the surface
   * tokens don't. Cosine is computed in integer basis points over quantized vectors
   * (same engine-portable formula as [[graft.sim.Similarity.cosineNearDupPairs]]), so
   * edges are bit-identical across engines and parallelism.
   *
   * Scale shape: identical to [[candidateEdges]] — within-block pairs only (never a
   * global cross join), mega-blocks capped, the self-join shuffles both sides on the
   * block key with identical subplans (ReusedExchange computes the quantize pass
   * once); residual imbalance goes to AQE skew splitting.
   *
   * @param forms (form: string, vec: array<float>) — one embedding per surface form
   *              (rows beyond the first per form are dropped deterministically).
   */
  def candidateEdgesEmbedding(forms: DataFrame, minCosBp: Long = 8000L,
      maxBlockSize: Int = 1000)(implicit spark: SparkSession): DataFrame = {
    import graft.sim.Similarity.{qdot, qnorm2, quantize}
    val normed = blocked(forms.select(col("form"), col("vec"))
        .groupBy(col("form")).agg(min_by(col("vec"), col("vec")).as("vec")))
      .withColumn("qv", quantize(col("vec")))
    logDrops("candidateEdgesEmbedding", normed, maxBlockSize)
    val capped = cap(normed, maxBlockSize) // form is distinct — deterministic under ties
    val a = capped.select(col("form").as("src"), col("qv").as("va"), col("block"))
    val b = capped.select(col("form").as("dst"), col("qv").as("vb"), col("block"))
    a.join(b.hint("shuffle_hash"), Seq("block"))
      .filter(col("src") < col("dst"))
      .withColumn("cos_bp",
        floor(qdot(col("va"), col("vb")) * 10000L /
          ceil(sqrt(qnorm2(col("va")).cast("double") * qnorm2(col("vb")).cast("double")))
            .cast("long")))
      .filter(col("cos_bp") >= minCosBp)
      // the same pair may surface through both families — cos_bp is a pure function
      // of the pair, so plain distinct dedupes exactly
      .select("src", "dst", "cos_bp")
      .distinct()
  }
}
