package graft.learn

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.model.SentenceAnnots

/**
 * A6 global value-probability map — the reference's genValProbMap
 * (/root/reference/src/msa/AutoAnnotateNER.java:2475-2535): for every value string the
 * validated corpus tags as a target of type T, estimate P(occurrence of value is a T) =
 * goldCount / corpusOccurrences, then apply the reference's gate ladder:
 *
 *   total ≥ minGlobalCount ∧ prob ≥ minGlobalPrec  →  prob   (trusted prior)
 *   total ≥ minGlobalCount ∧ prob <  minGlobalPrec  →  −1    (veto: value is usually NOT a T)
 *   total <  minGlobalCount                          →  0     (neutral: too rare to judge)
 *
 * The ladder, the vocabulary cap and the occurrence stream are [[LearnKernel]]'s
 * ([[LearnKernel.valuePriors]] runs them over a collected slice). Scale shape here: the
 * gold counts per value are collected (the validated slice is small by construction),
 * the capped vocabulary is broadcast as an Aho-Corasick automaton, and corpus
 * occurrence counting is one narrow pass over sentences + one aggregation per value —
 * never a join against the corpus by value.
 */
object ValueProbs {

  final case class Config(
      minGlobalCount: Long = 3,
      minGlobalPrec: Double = 0.7,
      // values with prior ≥ this enter the dictionary single-entity pass
      // (ref addSingleEntities, AutoAnnotateNER.java:2294-2460)
      dictThreshold: Double = 0.9,
      // hard bound on the gold value vocabulary (the broadcast automaton must fit in
      // executor memory, and the prior table is built on the driver): top-N by gold
      // count, ties by value. The validated slice keeps this small by design; the cap
      // makes the bound EXPLICIT in the API contract. Overflow is logged, never silent.
      maxVocabulary: Int = 100000)

  /**
   * Compute the prior table. `gold` needs (annotType, value) columns.
   * @return DataFrame(annot_type, value, gold_cnt, total_cnt, prior_bp) with prior_bp ∈
   *         {floor(prob·10000), −1, 0} (basis points — integer, engine-portable).
   */
  def compute(sentences: Dataset[SentenceAnnots], gold: DataFrame, cfg: Config = Config())(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val goldCnt = gold.select(col("annotType"), col("value")).as[(String, String)]
      .map { case (t, v) => LearnKernel.goldKey(t, v) }
      .groupByKey(identity).count().collect().toMap
    val values = LearnKernel.vocabulary(goldCnt, cfg.maxVocabulary)
    val occ =
      if (values.isEmpty) Map.empty[String, Long]
      else {
        val acB = spark.sparkContext.broadcast(LearnKernel.automaton(values))
        val valuesB = spark.sparkContext.broadcast(values)
        sentences.flatMap(s => LearnKernel.occurrences(s, acB.value, valuesB.value))
          .groupByKey(identity).count().collect().toMap
      }
    LearnKernel.priors(goldCnt, values, occ.getOrElse(_, 0L), cfg)
      .toDF("annot_type", "value", "gold_cnt", "total_cnt", "prior_bp")
  }
}
