package graft.learn

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Standalone annotation scorer — the reference's EvalProfilesSimple
 * (/root/reference/src/msa/EvalProfilesSimple.java:21-170): token-level and
 * entity-level precision/recall/F1 of predicted annotations versus gold, per
 * annotation type plus an ALL rollup.
 *
 * All ratios are basis-point integers (floor), so results are engine- and
 * parallelism-exact. Both inputs need (url, annotType, begin, end); token-level
 * additionally needs the corpus `tokens` table (url, begin, end) to project spans onto
 * token units (ref token-level scoring :141-160 versus B-/I- rows :172-180).
 */
object Eval {

  private def bp(num: Column, den: Column): Column =
    when(den > 0, floor(num * 10000L / den)).otherwise(lit(0L)).cast("long")

  /**
   * @param tolerance entity-level boundary tolerance in chars (±tol on each end,
   *                  the reference's inline-eval ±1, MSAUtils.matchAnswer)
   * @return one row per (annot_type ∪ "ALL") × level ∈ {entity, token}:
   *         (annot_type, level, tp, fp, fn, prec_bp, rec_bp, f1_bp)
   */
  def score(predicted: DataFrame, gold: DataFrame, tokens: DataFrame,
      tolerance: Int = 0)(implicit spark: SparkSession): DataFrame = {
    val pred = predicted.select(col("url"), col("annotType"), col("begin"), col("end"))
      .distinct()
    val gld = gold.select(col("url").as("g_url"), col("annotType").as("g_type"),
      col("begin").as("g_begin"), col("end").as("g_end")).distinct()

    // ---- entity level: ±tolerance exploded equi-join (no theta join) ----
    val tol = (-tolerance to tolerance).toSeq
    val variants = tol.flatMap(db => tol.map(de => s"$db:$de"))
    val predTol = pred
      .withColumn("v", explode(typedLit(variants)))
      .withColumn("gb", col("begin") + split(col("v"), ":")(0).cast("int"))
      .withColumn("ge", col("end") + split(col("v"), ":")(1).cast("int"))
    val entityHit = predTol.join(gld,
        col("url") === col("g_url") && col("annotType") === col("g_type") &&
          col("gb") === col("g_begin") && col("ge") === col("g_end"), "left")
      .groupBy(col("url"), col("annotType"), col("begin"), col("end"))
      .agg(max(when(col("g_url").isNotNull, 1).otherwise(0)).as("hit"))
    val goldHit = gld.join(predTol,
        col("url") === col("g_url") && col("annotType") === col("g_type") &&
          col("gb") === col("g_begin") && col("ge") === col("g_end"), "left")
      .groupBy(col("g_url"), col("g_type"), col("g_begin"), col("g_end"))
      .agg(max(when(col("url").isNotNull, 1).otherwise(0)).as("hit"))
    val entity = statsOf(
      entityHit.select(col("annotType"), col("hit")),
      goldHit.select(col("g_type").as("annotType"), col("hit")), "entity")

    // ---- token level: project spans onto corpus tokens, exact containment ----
    val toks = tokens.select(col("url").as("t_url"), col("begin").as("t_begin"),
      col("end").as("t_end"))
    def tokenUnits(spans: DataFrame, urlC: String, typeC: String, bC: String,
        eC: String): DataFrame =
      spans.join(toks, col(urlC) === col("t_url") &&
          col("t_begin") >= col(bC) && col("t_end") <= col(eC))
        .select(col(urlC).as("url"), col(typeC).as("annotType"),
          col("t_begin"), col("t_end")).distinct()
    val pu = tokenUnits(pred, "url", "annotType", "begin", "end")
    val gu = tokenUnits(gld, "g_url", "g_type", "g_begin", "g_end")
    // pu and gu share lineage (both derive from `toks`), so join conditions built from
    // their Column handles would be ambiguous self-join predicates (Spark logs
    // "trivially true equals predicate" and only dataset-id disambiguation rescues the
    // plan). Renaming one side FIRST makes every predicate reference distinct
    // attributes by construction. Both sides are distinct on all four columns, so the
    // left join matches at most one row — no fan-out.
    def unitHits(a: DataFrame, b: DataFrame): DataFrame = {
      val b2 = b.toDF("u2", "ty2", "b2", "e2")
      a.join(b2, col("url") === col("u2") && col("annotType") === col("ty2") &&
          col("t_begin") === col("b2") && col("t_end") === col("e2"), "left")
        .select(col("annotType"),
          when(col("u2").isNotNull, 1).otherwise(0).as("hit"))
    }
    val token = statsOf(unitHits(pu, gu), unitHits(gu, pu), "token")

    entity.unionByName(token)
  }

  /** P/R/F1 rollup from per-prediction and per-gold hit flags. */
  private def statsOf(predHits: DataFrame, goldHits: DataFrame,
      level: String): DataFrame = {
    def withAll(df: DataFrame): DataFrame =
      df.unionByName(df.withColumn("annotType", lit("ALL")))
    val p = withAll(predHits).groupBy("annotType")
      .agg(sum(col("hit")).as("tp"), sum(lit(1) - col("hit")).as("fp"))
    val g = withAll(goldHits).groupBy("annotType")
      .agg(sum(lit(1) - col("hit")).as("fn"))
    p.join(g, Seq("annotType"), "full")
      .na.fill(0L, Seq("tp", "fp", "fn"))
      .withColumn("prec_bp", bp(col("tp"), col("tp") + col("fp")))
      .withColumn("rec_bp", bp(col("tp"), col("tp") + col("fn")))
      .withColumn("f1_bp", bp(lit(2L) * col("tp"),
        lit(2L) * col("tp") + col("fp") + col("fn")))
      .select(col("annotType").as("annot_type"), lit(level).as("level"),
        col("tp"), col("fp"), col("fn"), col("prec_bp"), col("rec_bp"), col("f1_bp"))
  }
}
