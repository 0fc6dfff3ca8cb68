package graft.learn

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.{PageKernel, PatternMatcher}
import graft.model.{Pattern, PatternMatch, SentenceAnnots}

/**
 * Pattern precision statistics and filtering — the reference's FilterPatterns /
 * BestPatterns (/root/reference/src/msa/BestPatterns.java:417-567, ProfileStats.java)
 * as declarative Spark aggregations:
 *
 *  A1  TP/FP counting per (context, target) pair with a per-doc cap of 50 counted
 *      matches (ref BestPatterns.java:441-443,468-470) — judged per (pair, url), so the
 *      cap is applied before any per-pair aggregate.
 *  A2  precision = tp / (tp + max(fp−1, 0)) — the reference subtracts 1 from the
 *      NEGATIVE count only, "to correct for human errors or unannotated retrospective
 *      cases" (BestPatterns.java:525-531) — promote at prec ≥ posThreshold ∧
 *      total ≥ minCount.
 *  W1  overlap resolution: among patterns matching the same (url, begin) site keep the
 *      best (min score = patternLen − freq normalization, max total) via one window
 *      (BestPatterns.java:865-935).
 *
 * Matching itself runs executor-side with the compiled pattern index broadcast. The
 * matching, snap, judge, cap, precision and gate rules are [[LearnKernel]]'s; these
 * operators group rows per sentence, per url or per pair and call them.
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
      cfg: Config = Config())(implicit spark: SparkSession): Dataset[PatternMatch] = {
    import spark.implicits._
    val idxB = spark.sparkContext.broadcast(PatternMatcher.buildIndex(contextPatterns))
    val tgtB = spark.sparkContext.broadcast(PageKernel.compileTargets(targetPatterns))
    sentences.mapPartitions { it =>
      val index = idxB.value
      val targets = tgtB.value
      it.flatMap(s => LearnKernel.sentenceMatches(s, index, targets, cfg.matcher))
    }
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
    val typesB = spark.sparkContext.broadcast(LearnKernel.profileTypes(patterns.collect()))
    val goldKeys = gold.select($"url", $"annotType", $"begin", $"end")
      .as[(String, String, Int, Int)]
    matches.groupByKey(_.url).cogroup(goldKeys.groupByKey(_._1)) { (_, ms, gs) =>
        val keys = gs.map { case (_, t, b, e) => (t, b, e) }.toSet
        LearnKernel.judgeDoc(ms, keys, typesB.value, cfg.evalTolerance)
          .map { case ((c, t), (tp, fp)) => (c, t, tp, fp) }
      }
      .groupByKey(r => (r._1, r._2))
      .mapGroups((pair, it) => LearnKernel.pairStat(pair, it.map(r => (r._3, r._4))))
      .toDF()
  }

  /** Pairs passing the promotion gate (ref ProfileReader.readFinal per-pair gates,
    * /root/reference/src/msa/ProfileReader.java:257-279). */
  def keptPairs(pairStats: DataFrame, cfg: Config = Config()): DataFrame =
    pairStats.filter { (r: Row) =>
      LearnKernel.kept(r.getAs[Long]("total"), r.getAs[Double]("prec"), cfg)
    }

  /** A3 profile-active check: context profiles where some target combo reaches
    * activeThreshold precision (ref BestPatterns.java:561-565,612-620). */
  def activeProfiles(pairStats: DataFrame, cfg: Config = Config()): DataFrame = {
    val spark = pairStats.sparkSession
    import spark.implicits._
    pairStats.select(col("profileId"), col("prec")).as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (id, it) =>
        if (LearnKernel.active(it.map(_._2).max, cfg)) Iterator(id) else Iterator.empty
      }
      .toDF("profileId")
  }

  /**
   * J5 gold-span boundary snap (ref BestPatterns.java:1332-1358): human-validated
   * spans need not start/end on token boundaries; each distinct gold row's span is
   * snapped outward to the tokens it intersects by [[LearnKernel.snap]], so gold keys
   * compare exactly against tokenizer-aligned predictions. One cogroup of gold rows
   * and token spans per url; spans intersecting no token pass through unchanged.
   * The output has gold's columns with `begin` and `end` moved last.
   */
  def snapGoldToTokens(gold: DataFrame, tokens: DataFrame)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rest = gold.columns.toSeq.filterNot(c => c == "begin" || c == "end")
    val g = gold.select((rest ++ Seq("begin", "end")).map(col): _*).distinct()
    val urlAt = rest.indexOf("url")
    val n = rest.length
    val spans = tokens.select($"url", $"begin", $"end").as[(String, Int, Int)]
    g.groupByKey(_.getString(urlAt)).cogroup(spans.groupByKey(_._1)) { (_, rows, toks) =>
      val ts = toks.map(t => (t._2, t._3)).toVector
      rows.map { r =>
        val (b, e) = LearnKernel.snap(r.getInt(n), r.getInt(n + 1), ts)
        Row.fromSeq(r.toSeq.take(n) ++ Seq(b, e))
      }
    }(Encoders.row(g.schema))
  }
}
