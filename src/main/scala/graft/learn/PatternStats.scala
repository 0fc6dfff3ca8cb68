package graft.learn

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.align.Grid
import graft.extract.{PageKernel, PatternMatcher}
import graft.model.{Pattern, PatternMatch, SentenceAnnots}

/**
 * Pattern precision statistics and filtering — the reference's FilterPatterns /
 * BestPatterns (/root/reference/src/msa/BestPatterns.java:417-567, ProfileStats.java)
 * as declarative Spark aggregations:
 *
 *  A1  TP/FP counting per (context, target) pair with a per-doc cap of 50 counted
 *      matches (ref BestPatterns.java:441-443,468-470) — pre-aggregate per (pair, url)
 *      with least(count, 50) so the cap is map-side and skew-proof.
 *  A2  precision = tp / (tp + max(fp−1, 0)) — the reference subtracts 1 from the
 *      NEGATIVE count only, "to correct for human errors or unannotated retrospective
 *      cases" (BestPatterns.java:525-531) — promote at prec ≥ posThreshold ∧
 *      total ≥ minCount.
 *  W1  overlap resolution: among patterns matching the same (url, begin) site keep the
 *      best (min score = patternLen − freq normalization, max total) via one window
 *      (BestPatterns.java:865-935).
 *
 * Matching itself runs executor-side with the compiled pattern index broadcast.
 */
object PatternStats {

  final case class Config(
      posThreshold: Double = 0.9,
      minCount: Long = 2,
      evalTolerance: Int = 1,
      // A3: a context profile stays active only if SOME target combo reaches this
      // precision (ref BestPatterns.java:561-565,612-620)
      activeThreshold: Double = 0.8,
      matcher: PatternMatcher.Params = PatternMatcher.Params())

  /**
   * Pair-model match collection — the faithful reference semantics: context profiles
   * (profileType 0) enumerate candidate spans, target profiles (profileType 1) decide
   * the extent, and every emitted row is a (profileId, targetId) PAIR occurrence (the
   * reference's `index` table, /root/reference/sql/ie-mysql.sql:37-43).
   */
  def applyPatternsPaired(sentences: Dataset[SentenceAnnots],
      contextPatterns: Seq[Pattern], targetPatterns: Seq[Pattern],
      cfg: Config = Config(), allowedPairs: Option[Set[(Long, Long)]] = None,
      excludedPairs: Set[(Long, Long)] = Set.empty)(
      implicit spark: SparkSession): Dataset[PatternMatch] = {
    import spark.implicits._
    val idxB = spark.sparkContext.broadcast(PatternMatcher.buildIndex(contextPatterns))
    val tgtB = spark.sparkContext.broadcast(PageKernel.compileTargets(targetPatterns))
    val allowedB = spark.sparkContext.broadcast(allowedPairs)
    val excludedB = spark.sparkContext.broadcast(excludedPairs)
    sentences.mapPartitions { it =>
      val index = idxB.value
      val targets = tgtB.value
      val allowed = allowedB.value
      val excluded = excludedB.value
      it.flatMap { s =>
        val grid = Grid.build(s.url, s.sentBegin, s.sentEnd, s.annots)
        if (PatternMatcher.isAllCapsSentence(grid)) Iterator.empty
        // stats count RAW pair matches (no overlap suppression): the reference computes
        // precision before overlap filtering
        else PatternMatcher.matchPairs(grid, index, targets, cfg.matcher,
          allowedPairs = allowed, suppressOverlaps = false,
          excludedPairs = excluded).iterator.map { h =>
          PatternMatch(h.context.profileId, h.target.profileId, s.url,
            h.targetBegin, h.targetEnd, PatternMatcher.trimTrailingPunct(h.value))
        }
      }
    }
  }

  /**
   * Staged pair scoring — the reference's internalBlockSize staged filtering
   * (/root/reference/src/msa/ProfileStats.java:270-375: hopeless patterns are killed
   * mid-run so later sentences skip them) re-expressed as a two-pass sample-then-full
   * design: pass 1 scores pairs on a deterministic url-hash sample and KILLS pairs
   * with enough evidence of hopeless precision; pass 2 matches the full slice with
   * only the surviving pairs. At web scale the sample pass costs `sampleFraction` of
   * one matching pass and removes the dominant cost of matching junk patterns
   * everywhere. Returns pass-2 pair stats (same shape as [[scorePairs]]).
   */
  def scorePairsStaged(sentences: Dataset[SentenceAnnots],
      contextPatterns: Seq[Pattern], targetPatterns: Seq[Pattern], gold: DataFrame,
      patterns: Dataset[Pattern], cfg: Config = Config(),
      sampleFraction: Double = 0.1, killPrec: Double = 0.1, killMinTotal: Long = 10)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val pct = math.max(1, math.round(sampleFraction * 100).toInt)
    val sample = sentences.filter(s =>
      math.floorMod(scala.util.hashing.MurmurHash3.stringHash(s.url), 100) < pct)
    val m1 = applyPatternsPaired(sample, contextPatterns, targetPatterns, cfg)
    val s1 = scorePairs(m1, gold, patterns, cfg)
    val killed = s1.filter($"prec" < killPrec && $"total" >= killMinTotal)
      .select($"profileId", $"targetId").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val allPairs = (for {
      c <- contextPatterns; t <- targetPatterns if t.annotType == c.annotType
    } yield (c.profileId, t.profileId)).toSet
    val survivors = allPairs -- killed
    val m2 = applyPatternsPaired(sentences, contextPatterns, targetPatterns, cfg,
      allowedPairs = Some(survivors))
    scorePairs(m2, gold, patterns, cfg)
  }

  /**
   * Per-(context, target) pair statistics — the reference's `final` table
   * (/root/reference/sql/ie-mysql.sql:24-33, written BestPatterns.java:515-609):
   * ±tolerance gold join, per-doc cap 50, precision with the neg-only −1 correction,
   * keyed by the PAIR.
   * Returns (profileId, targetId, tp, fp, total, prec).
   */
  def scorePairs(matches: Dataset[PatternMatch], gold: DataFrame,
      patterns: Dataset[Pattern], cfg: Config = Config())(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val judged = judgeMatches(matches, gold, patterns, cfg)
      .groupBy($"profileId", $"targetId", $"url", $"begin", $"end")
      .agg(max(when($"g_url".isNotNull, 1).otherwise(0)).as("isTp"))
    val perDoc = judged.groupBy($"profileId", $"targetId", $"url")
      .agg(least(sum($"isTp"), lit(50L)).as("tp"),
           least(sum(lit(1) - $"isTp"), lit(50L)).as("fp"))
    perDoc.groupBy($"profileId", $"targetId")
      .agg(sum($"tp").as("tp"), sum($"fp").as("fp"))
      .withColumn("total", $"tp" + $"fp")
      // the reference's correction subtracts 1 from the NEGATIVE count only (and only
      // when fp > 0): prec = tp / (tp + max(fp−1, 0)) — never exceeds 1.0
      // (ref BestPatterns.java:525-531)
      .withColumn("fpAdj", greatest($"fp" - 1, lit(0L)))
      .withColumn("prec",
        when($"tp" + $"fpAdj" > 0, $"tp".cast("double") / ($"tp" + $"fpAdj"))
          .otherwise(lit(0.0)))
      .drop("fpAdj")
  }

  /** Pairs passing the promotion gate (ref ProfileReader.readFinal per-pair gates,
    * /root/reference/src/msa/ProfileReader.java:257-279), minus any standing
    * exclusions — the reference's `filter` table (sql/ie-mysql.sql:16-20, read
    * ProfileReader.java:411-437): an excluded pair never promotes, whatever its
    * precision. */
  def keptPairs(pairStats: DataFrame, cfg: Config = Config(),
      excludedPairs: Set[(Long, Long)] = Set.empty): DataFrame = {
    val gated = pairStats.filter(col("prec") >= cfg.posThreshold &&
      col("total") >= cfg.minCount)
    if (excludedPairs.isEmpty) gated
    else {
      val excl = excludedPairs.toSeq.map(p => s"${p._1}${p._2}")
      gated.filter(!concat_ws("", col("profileId"), col("targetId"))
        .isInCollection(excl))
    }
  }

  /** A3 profile-active check: context profiles where some target combo reaches
    * activeThreshold precision (ref BestPatterns.java:561-565,612-620). */
  def activeProfiles(pairStats: DataFrame, cfg: Config = Config()): DataFrame =
    pairStats.groupBy(col("profileId"))
      .agg(max(col("prec")).as("bestPrec"))
      .filter(col("bestPrec") >= cfg.activeThreshold)
      .select(col("profileId"))

  /**
   * J5 gold-span boundary snap (ref BestPatterns.java:1332-1358): human-validated
   * spans need not start/end on token boundaries; snap each gold span outward to the
   * tokens it intersects — begin = min(begin) and end = max(end) of intersecting
   * Token rows — so gold keys compare exactly against tokenizer-aligned predictions.
   * Range join per url on the (small) gold slice + one min/max aggregation; spans
   * intersecting no token pass through unchanged.
   */
  def snapGoldToTokens(gold: DataFrame, tokens: DataFrame)(
      implicit spark: SparkSession): DataFrame = {
    val t = tokens.select(col("url").as("t_url"), col("begin").as("t_begin"),
      col("end").as("t_end"))
    gold.join(t, col("url") === col("t_url") &&
        col("t_begin") < col("end") && col("t_end") > col("begin"), "left")
      .groupBy(gold.columns.map(col): _*)
      .agg(min(col("t_begin")).as("s_begin"), max(col("t_end")).as("s_end"))
      .withColumn("begin2", coalesce(col("s_begin"), col("begin")))
      .withColumn("end2", coalesce(col("s_end"), col("end")))
      .drop("begin", "end", "s_begin", "s_end")
      .withColumnRenamed("begin2", "begin")
      .withColumnRenamed("end2", "end")
  }

  /** Shared ±tolerance gold join: exploded {−tol..+tol}² boundary variants equi-joined
    * to gold on (url, span, annotType). */
  private def judgeMatches(matches: Dataset[PatternMatch], gold: DataFrame,
      patterns: Dataset[Pattern], cfg: Config)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val tol = (-cfg.evalTolerance to cfg.evalTolerance).toSeq
    val variants = tol.flatMap(db => tol.map(de => (db, de)))
    val exploded = matches.toDF()
      .withColumn("v", explode(typedLit(variants.map(v => v._1 + ":" + v._2))))
      .withColumn("gb", $"begin" + split($"v", ":")(0).cast("int"))
      .withColumn("ge", $"end" + split($"v", ":")(1).cast("int"))
    val goldKeys = gold.select($"url".as("g_url"), $"annotType".as("g_type"),
      $"begin".as("g_begin"), $"end".as("g_end")).distinct()
    val pTypes = patterns.toDF().select($"profileId".as("p_id"), $"annotType".as("p_type"))
      .distinct()
    exploded
      .join(pTypes, $"profileId" === $"p_id", "left")
      .join(goldKeys,
        $"url" === $"g_url" && $"gb" === $"g_begin" && $"ge" === $"g_end" &&
          $"p_type" === $"g_type", "left")
  }

  /**
   * Reference site score for overlap resolution:
   * `patternLen − freq / 10^⌈log10 maxFreq⌉` (ref BestPatterns.java:849-862) — shorter
   * patterns win ties-in-length by higher corpus frequency (the freq term is scaled
   * into (0,1] so it only breaks length ties). freq = observed match total (tp+fp).
   * Returns (profileId, siteScore).
   */
  def siteScores(patterns: Dataset[Pattern])(implicit spark: SparkSession): DataFrame = {
    val withFreq = patterns.toDF()
      .withColumn("freq", (col("truePos") + col("falsePos")).cast("double"))
    val maxFreq = withFreq.agg(max(col("freq"))).head().getDouble(0) max 1.0
    val denom = math.pow(10.0, math.ceil(math.log10(maxFreq)) max 1.0)
    withFreq.select(col("profileId"),
      (size(col("toks")).cast("double") - col("freq") / lit(denom)).as("siteScore"))
  }

  /**
   * W1 overlap resolution on match sites: among all (pattern, site) rows sharing
   * (url, begin), keep the single best by (siteScore asc, total desc, profileId asc) —
   * the reference's argmin with its site-score formula
   * (ref BestPatterns.java:865-935; score :849-862). `matches` needs (url, begin,
   * profileId, total) columns; the site score is joined in from `patterns` (broadcast —
   * the pattern table is small post-gate).
   */
  def resolveOverlaps(matches: DataFrame, patterns: Dataset[Pattern])(
      implicit spark: SparkSession): DataFrame = {
    val scored = matches.join(broadcast(siteScores(patterns)), Seq("profileId"), "left")
      .withColumn("siteScore", coalesce(col("siteScore"), lit(Double.MaxValue)))
    val w = Window.partitionBy("url", "begin")
      .orderBy(col("siteScore").asc, col("total").desc, col("profileId").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn", "siteScore")
  }
}
