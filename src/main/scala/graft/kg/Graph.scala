package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Graph-side finishing operators over a materialized (subj, pred, obj) triple table —
 * the analysis/guard layer a KG-construction pipeline runs AFTER extraction and
 * canonicalization, before serving the graph.
 *
 * The reference stops at writing `frame_instance_data` rows
 * (/root/reference/src/msa/PopulateFrame.java:247-268) and reports coverage counts per
 * pattern (/root/reference/src/analysis/PatternCoverage.java:24-115); at web scale the
 * same store needs degree statistics (hub/mega-entity detection), per-predicate
 * functionality profiles (KG quality: is this predicate one-to-one or one-to-many in
 * practice?), and packed per-entity fact cards for serving, capped per entity (the
 * north rule's mega-entity skew guard, applied to the OUTPUT side). All three are
 * single-pass declarative shapes: one aggregation or one partitioned window; nothing
 * collects to the driver.
 */
object Graph {

  /**
   * Per-subject degree statistics: total out-degree, distinct predicates, distinct
   * objects. One hash-aggregate shuffle keyed by subject (map-side partials for the
   * count; the distincts expand to the standard two-phase distinct-agg plan). This is
   * the mega-entity detector: downstream callers threshold `degree` to find hubs.
   */
  def degreeStats(triples: DataFrame, subjCol: String, predCol: String,
      objCol: String): DataFrame =
    triples.groupBy(col(subjCol).as("subj"))
      .agg(count(lit(1)).as("degree"),
        count_distinct(col(predCol)).as("n_pred"),
        count_distinct(col(objCol)).as("n_obj"))

  /**
   * Per-predicate functionality profile: triple count, distinct subjects/objects, and
   * the average fan-out in basis points (`floor(10000 * n_triples / n_subj)` — exact
   * integer division, engine-portable). A predicate with fanout_bp == 10000 is
   * functional (one object per subject) — the KG-quality signal that separates
   * `born_in` from `mentions`. One aggregation keyed by predicate; predicates are few,
   * so the result broadcasts to any consumer.
   */
  def predicateProfile(triples: DataFrame, subjCol: String, predCol: String,
      objCol: String): DataFrame =
    triples.groupBy(col(predCol).as("pred"))
      .agg(count(lit(1)).as("n_triples"),
        count_distinct(col(subjCol)).as("n_subj"),
        count_distinct(col(objCol)).as("n_obj"))
      .withColumn("fanout_bp", expr("10000L * n_triples DIV n_subj"))

  /**
   * Packed entity cards: per subject, the `k` first facts in deterministic
   * (pred, obj) byte order, rendered `pred=obj` and joined with "; " — the serving
   * artifact a KG materializes per entity. The cap runs first (a partitioned rank
   * filter that plans with WindowGroupLimit pushdown) so a mega-entity contributes at
   * most `k` facts to its card; the surviving facts are sorted INSIDE the aggregate (`array_sort` over the
   * rendered strings), so the card bytes never depend on shuffle arrival order.
   */
  def entityCards(triples: DataFrame, subjCol: String, predCol: String,
      objCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(subjCol).orderBy(asc(predCol), asc(objCol))
    triples
      .withColumn("fact_rank", row_number().over(w))
      .filter(col("fact_rank") <= k)
      .groupBy(col(subjCol).as("subj"))
      .agg(count(lit(1)).as("n_facts"),
        array_join(array_sort(collect_list(
          concat(col(predCol), lit("="), col(objCol)))), "; ").as("card"))
  }

  /**
   * W3C N-Triples serialization of the triple store — the standard line-oriented KG
   * interchange format (one `<subj-iri> <pred-iri> "object-literal" .` line per
   * triple), so the materialized graph loads into any RDF store or SPARQL engine
   * without a custom reader.
   *
   * IRI path segments percent-encode every character the IRIREF production forbids
   * inside `<...>` — all of `\x00`–`\x20` (controls + space, so a subject with an
   * embedded newline can never split a record across physical lines), quote, angle
   * brackets, backslash, and `{ } | ^ `` ` `` — with `%` itself encoded FIRST so the
   * encoding is injective; object literals escape per the N-Triples string grammar
   * (backslash, quote, newline, CR, tab). All rewrites are chained builtin
   * `replace`/`regexp_replace` columns — codegen'd, zero-shuffle, a narrow map over
   * the store at any scale.
   */
  /** The injective IRI percent-encode rule chain, in application order (% first). */
  private[graft] val iriEscapes: Seq[(String, String)] =
    Seq("%" -> "%25") ++
      (0x00 to 0x20).map(i => i.toChar.toString -> f"%%$i%02X") ++
      Seq("\"" -> "%22", "<" -> "%3C", ">" -> "%3E", "\\" -> "%5C",
        "{" -> "%7B", "}" -> "%7D", "|" -> "%7C", "^" -> "%5E", "`" -> "%60")

  def toNTriples(triples: DataFrame, subjCol: String, predCol: String,
      objCol: String, base: String = "https://kg.example/"): DataFrame = {
    def iri(c: org.apache.spark.sql.Column) =
      iriEscapes.foldLeft(c) { case (acc, (from, to)) =>
        replace(acc, lit(from), lit(to))
      }
    def lit3(c: org.apache.spark.sql.Column) =
      Seq("\\" -> "\\\\", "\"" -> "\\\"", "\n" -> "\\n", "\r" -> "\\r",
        "\t" -> "\\t").foldLeft(c) { case (acc, (from, to)) =>
        replace(acc, lit(from), lit(to))
      }
    triples.select(concat(
      lit(s"<${base}entity/"), iri(col(subjCol)), lit(s"> <${base}pred/"),
      iri(col(predCol)), lit("> \""), lit3(col(objCol)), lit("\" .")).as("ntriple"))
  }
}
