package graft

import java.util.Locale

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.learn.{GenMSA, PatternStats, ValueProbs}
import graft.model.{Pattern, PatternMatch, SentenceAnnots}
import graft.nlp.AhoCorasick

/**
 * The learning operators as Spark column expressions — a window rank for the MSA
 * blocks, `xxhash64` for profile ids, a range join for the gold snap, a ±tolerance
 * explode with joins and `groupBy`s for the pair stats, and a join ladder for the
 * priors. LearnKernelSpec's independent oracle: the public operators call
 * [[graft.learn.LearnKernel]], so only a formulation that shares none of its rules can
 * catch a rule the kernel gets wrong. The occurrence stream lowercases with
 * `Locale.ROOT`, as the kernel does.
 */
object LearnOracle {

  /** Patterns: window rank per annotType on (url, sentBegin), blocks aligned by
    * `GenMSA.alignBlock`, counted, `minRows`, `xxhash64` ids. */
  def patterns(sentences: Dataset[SentenceAnnots], goldProvenances: Set[String],
      cfg: GenMSA.Config)(implicit spark: SparkSession): Dataset[Pattern] = {
    import spark.implicits._
    val train = sentences.flatMap { s =>
      s.annots.filter(a => goldProvenances(a.provenance)).map(_.annotType).distinct
        .map(t => (t, s))
    }.toDF("annotType", "sent")
    val w = Window.partitionBy($"annotType").orderBy($"sent.url", $"sent.sentBegin")
    val blocked = train
      .withColumn("blockId", ((row_number().over(w) - lit(1)) / lit(cfg.blockSize)).cast("int"))
    val rawPatterns = blocked
      .select($"annotType".as("_1"), $"sent".as("_2"), $"blockId".as("_3"))
      .as[(String, SentenceAnnots, Int)]
      .groupByKey { case (t, _, b) => (t, b) }
      .flatMapGroups { (key: (String, Int), it: Iterator[(String, SentenceAnnots, Int)]) =>
        val sents = it.map(_._2).toVector.sortBy(s => (s.url, s.sentBegin))
        GenMSA.alignBlock(key._1, sents, goldProvenances).iterator
      }
      .toDF("annotType", "toks", "profileType")
    rawPatterns
      .groupBy($"annotType", $"toks", $"profileType")
      .agg(count(lit(1)).as("rows"))
      .filter($"rows" >= cfg.minRows)
      .withColumn("profileId",
        xxhash64(concat_ws("\u0001", $"annotType", $"profileType",
          concat_ws("\u0001", $"toks"))))
      .select($"profileId", $"toks", $"annotType", $"profileType", lit("msa").as("group"),
        lit(0.0).as("score"), lit(0L).as("truePos"), lit(0L).as("falsePos"), $"rows")
      .as[Pattern]
  }

  /** J5 snap: range join per url on the token spans + one min/max aggregation. */
  def snap(gold: DataFrame, tokens: DataFrame): DataFrame = {
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

  /** Pair stats (profileId, targetId, tp, fp, total, prec): ±tolerance explode joined to
    * the gold keys, per-site max, per-(pair, url) `least(·, 50)`, neg-only −1. */
  def pairStats(matches: Dataset[PatternMatch], gold: DataFrame, patterns: Dataset[Pattern],
      cfg: PatternStats.Config)(implicit spark: SparkSession): DataFrame = {
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
    val judged = exploded
      .join(pTypes, $"profileId" === $"p_id", "left")
      .join(goldKeys,
        $"url" === $"g_url" && $"gb" === $"g_begin" && $"ge" === $"g_end" &&
          $"p_type" === $"g_type", "left")
      .groupBy($"profileId", $"targetId", $"url", $"begin", $"end")
      .agg(max(when($"g_url".isNotNull, 1).otherwise(0)).as("isTp"))
    judged.groupBy($"profileId", $"targetId", $"url")
      .agg(least(sum($"isTp"), lit(50L)).as("tp"),
           least(sum(lit(1) - $"isTp"), lit(50L)).as("fp"))
      .groupBy($"profileId", $"targetId")
      .agg(sum($"tp").as("tp"), sum($"fp").as("fp"))
      .withColumn("total", $"tp" + $"fp")
      .withColumn("fpAdj", greatest($"fp" - 1, lit(0L)))
      .withColumn("prec",
        when($"tp" + $"fpAdj" > 0, $"tp".cast("double") / ($"tp" + $"fpAdj"))
          .otherwise(lit(0.0)))
      .drop("fpAdj")
  }

  /** The pair gate: promotion filter, semi-joined to the profiles whose best pair
    * precision reaches activeThreshold. */
  def allowedPairs(stats: DataFrame, cfg: PatternStats.Config): Map[(Long, Long), Double] = {
    val kept = stats.filter(col("prec") >= cfg.posThreshold && col("total") >= cfg.minCount)
    val active = stats.groupBy(col("profileId")).agg(max(col("prec")).as("bestPrec"))
      .filter(col("bestPrec") >= cfg.activeThreshold).select(col("profileId"))
    kept.join(active, Seq("profileId"), "left_semi")
      .select(col("profileId"), col("targetId"), col("prec"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
  }

  /** Prior rows (annot_type, value, gold_cnt, total_cnt, prior_bp): `lower` gold counts,
    * top-N vocabulary by `orderBy`, an occurrence `groupByKey` count, the join ladder. */
  def priors(sentences: Dataset[SentenceAnnots], gold: DataFrame, cfg: ValueProbs.Config)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val goldCnt = gold.select(col("annotType").as("annot_type"),
        lower(col("value")).as("value"))
      .groupBy("annot_type", "value").agg(count(lit(1)).as("gold_cnt"))
    val topVals = goldCnt.groupBy("value").agg(sum("gold_cnt").as("g"))
      .orderBy(col("g").desc, col("value"))
      .limit(cfg.maxVocabulary + 1)
      .select("value").as[String].collect()
    val values = topVals.take(cfg.maxVocabulary).sorted.toIndexedSeq
    if (values.isEmpty) return goldCnt.withColumn("total_cnt", lit(0L))
      .withColumn("prior_bp", lit(0L))
    val ac = AhoCorasick.build(values.map(_.split("\\s+").toSeq))
    val occ = sentences.flatMap { s =>
        val stream = s.annots.filter(_.annotType == "Token").sortBy(_.begin)
          .map(_.value.toLowerCase(Locale.ROOT)).toIndexedSeq
        ac.findAll(stream).map { case (_, _, dictId) => values(dictId) }
      }.groupByKey(identity).count().toDF("value", "total_cnt")
    goldCnt.join(broadcast(values.toDF("value")), Seq("value"), "left_semi")
      .join(occ, Seq("value"), "left")
      .withColumn("occ_cnt", coalesce(col("total_cnt"), lit(0L)))
      .withColumn("total_cnt", greatest(col("occ_cnt"), col("gold_cnt")))
      .withColumn("prior_bp",
        when(col("occ_cnt") < col("gold_cnt"), lit(0L))
          .when(col("total_cnt") < cfg.minGlobalCount, lit(0L))
          .when(col("gold_cnt") * 10000L / col("total_cnt") >= cfg.minGlobalPrec * 10000,
            floor(col("gold_cnt") * 10000L / col("total_cnt")).cast("long"))
          .otherwise(lit(-1L)))
      .select("annot_type", "value", "gold_cnt", "total_cnt", "prior_bp")
  }
}
