package graft.link

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.{HexFormat, Locale}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.learn.LearnKernel.Utf8Order

/**
 * Entity linking: blocking + Jaccard candidate scoring.
 *
 * The analog of the reference's duplicate propagation
 * (src/msa/pipeline/AnnotateDuplicate.java:106-270 of the reference), which merges
 * duplicate entities with a plain single-threaded walk: distinct surface forms are
 * grouped into blocks by a cheap deterministic key, candidate pairs are generated ONLY
 * within a block (never a global cross join), and pairs at token-Jaccard ≥ τ become
 * link edges for connected-components canonicalization.
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
 * the no-silent-caps rule the dropped form slots are LOGGED at call time and exposed
 * relationally via [[blockAudit]]. Pairs surfacing in both families are deduplicated.
 *
 * The Jaccard link has one implementation, [[jaccardLinks]]: plain Scala over the
 * distinct forms, which the KG job runs on the driver (its subject forms are few;
 * [[graft.pipeline.KGPipeline]] bounds them). It normalizes, orders and hashes as the
 * Spark builtins of [[blocked]] do (a locale-free lowercase, strings in UTF-8 byte
 * order, `md5` hex), so its edges equal a relational block self-join's.
 * [[candidateEdges]] is its DataFrame face. The embedding-scored variant
 * [[candidateEdgesEmbedding]] (battery q43) stays relational over [[blocked]] and
 * [[cap]].
 */
object EntityLink {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The two block keys of a normalized form, as an array (exploded into one row per
    * family). All builtin codegen columns — no UDF at canonicalization time. */
  private def blockKeys(norm: org.apache.spark.sql.Column,
      toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column = array(
    concat(lit("a:"), substring(norm, 1, 1), lit(":"), size(toks)),
    concat(lit("m:"), array_min(transform(toks, t => substring(md5(t), 1, 12)))))

  /** The normalized form: [[normalize]] as builtins (codegen, no Scala UDF), free of
    * the JVM default locale that Spark's `lower` follows on non-ASCII text. Outside
    * ASCII only U+0130 (to i + U+0307) and U+212A (to k) lower under `Locale.ROOT` to
    * anything in `[a-z0-9]`, so those two and the ASCII capitals are mapped by hand
    * and every other character becomes a separator either way. */
  private def normalized(form: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(translate(regexp_replace(form, "\u0130", "i "),
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ\u212A", "abcdefghijklmnopqrstuvwxyzk"),
      "[^a-z0-9]+", " "))

  /** Normalized + exploded-by-family blocking relation (form, norm, toks, block). */
  private[graft] def blocked(forms: DataFrame): DataFrame =
    forms
      .withColumn("norm", normalized(col("form")))
      .filter(length(col("norm")) > 0)
      .withColumn("toks", array_distinct(split(col("norm"), " ")))
      .withColumn("block", explode(blockKeys(col("norm"), col("toks"))))

  /** Per-block cap (mega-entity guard); tie-break on the unique form so colliding
    * normalized forms keep a parallelism-invariant winner set. */
  private[graft] def cap(blockedForms: DataFrame, maxBlockSize: Int): DataFrame =
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

  /** Logs what the block cap dropped, per the no-silent-caps rule: recall loss must
    * never be invisible. */
  private def logCapDrops(who: String, droppedSlots: Long, overCapBlocks: Long,
      maxBlockSize: Int): Unit =
    if (overCapBlocks > 0)
      log.warn(s"$who: block cap $maxBlockSize dropped $droppedSlots form slots " +
        s"across $overCapBlocks over-cap blocks (recall loss — see blockAudit)")
    else log.info(s"$who: no blocks over cap $maxBlockSize")

  /** Eager one-job drop counter (tiny aggregate over distinct forms). */
  private def logDrops(who: String, blockedForms: DataFrame, maxBlockSize: Int): Unit = {
    val r = blockedForms.groupBy("block").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBlockSize)
      .agg(coalesce(sum(col("n") - maxBlockSize), lit(0L)), count(lit(1))).head()
    logCapDrops(who, r.getLong(0), r.getLong(1), maxBlockSize)
  }

  /** A form lowered with `Locale.ROOT` (so no host's default locale changes it), every
    * run outside `[a-z0-9]` a single space, trimmed: the value of [[normalized]]. */
  private def normalize(form: String): String =
    form.toLowerCase(Locale.ROOT).replaceAll("[^a-z0-9]+", " ").trim

  /** A form as blocking and scoring read it: distinct tokens in first-seen order. */
  private final class Normed(val form: String, val norm: String, val toks: Array[String]) {
    val tokSet: Set[String] = toks.toSet
    /** Spark's `a:` and `m:` keys; `md5` is lowercase hex, `substring` 1-based. */
    def blockKeys: Seq[String] = Seq(s"a:${norm.substring(0, 1)}:${toks.length}",
      "m:" + toks.map(t => HexFormat.of().formatHex(
        MessageDigest.getInstance("MD5").digest(t.getBytes(UTF_8))).substring(0, 12)).min)
  }

  /** The edge of two forms of one block, oriented `src < dst`, when their token
    * Jaccard reaches `minJaccard`. */
  private def edge(a: Normed, b: Normed,
      minJaccard: Double): Option[(String, String, Double)] = {
    val inter = a.toks.count(b.tokSet)
    val jaccard = inter.toDouble / (a.toks.length + b.toks.length - inter)
    if (jaccard < minJaccard) None
    else if (Utf8Order.lt(a.form, b.form)) Some((a.form, b.form, jaccard))
    else Some((b.form, a.form, jaccard))
  }

  /** What linking a set of forms yields: the edges `(src, dst, jaccard)` sorted by
    * `(src, dst)` in UTF-8 byte order, and what the block cap dropped. */
  final case class Links(edges: Seq[(String, String, Double)], droppedSlots: Long,
      overCapBlocks: Long)

  /**
   * The Jaccard link kernel over surface forms, plain Scala. Null forms and forms whose
   * normalized text is empty are dropped. Each block keeps its first `maxBlockSize`
   * forms in (norm, form) order; the dropped slots are logged. Two forms of one block
   * are an edge when the Jaccard of their distinct token sets is at least `minJaccard`;
   * a pair both families find is one edge.
   */
  def jaccardLinks(forms: Iterable[String], minJaccard: Double,
      maxBlockSize: Int = 1000): Links = {
    val normed = forms.iterator.filter(_ != null).distinct.flatMap { f =>
      val norm = normalize(f)
      if (norm.isEmpty) None else Some(new Normed(f, norm, norm.split(" ").distinct))
    }.toVector
    val blocks = normed.flatMap(f => f.blockKeys.map(_ -> f)).groupMap(_._1)(_._2).values
    val dropped = blocks.collect { case b if b.size > maxBlockSize => b.size - maxBlockSize }
    val (droppedSlots, overCapBlocks) = (dropped.map(_.toLong).sum, dropped.size.toLong)
    logCapDrops("jaccardLinks", droppedSlots, overCapBlocks, maxBlockSize)
    val byText = Ordering.Tuple2(Utf8Order, Utf8Order)
    val edges = blocks.iterator.flatMap { block =>
      val kept = block.sortBy(f => (f.norm, f.form))(byText).take(maxBlockSize)
      kept.indices.iterator.flatMap(i =>
        (i + 1 until kept.size).iterator.flatMap(j => edge(kept(i), kept(j), minJaccard)))
    }.toSet
    Links(edges.toSeq.sortBy(e => (e._1, e._2))(byText), droppedSlots, overCapBlocks)
  }

  /**
   * [[jaccardLinks]] as a DataFrame: collects the distinct forms to the driver and links
   * them there.
   *
   * @param forms DataFrame with a single column `form` (surface forms).
   * @return edges (src, dst, jaccard) with jaccard ≥ minJaccard, src < dst in UTF-8 byte
   *         order, deduplicated across blocking families; a local relation.
   */
  def candidateEdges(forms: DataFrame, minJaccard: Double = 0.5,
      maxBlockSize: Int = 1000)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val distinctForms = forms.select(col("form")).distinct().as[String].collect()
    jaccardLinks(distinctForms, minJaccard, maxBlockSize).edges.toDF("src", "dst", "jaccard")
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
