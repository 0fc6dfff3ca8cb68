package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.PageKernel
import graft.nlp.{AhoCorasick, Tokenizer}

/** Native Catalyst expression `ahocorasick_matches` (codegen gazetteer). */
class FunctionsSpec extends AnyFunSuite with SparkTest {

  private def matches(text: String, terms: Seq[String]) = {
    import spark.implicits._
    Seq(text).toDF("text")
      .select(explode(call_function("ahocorasick_matches", col("text"),
        array(terms.map(lit): _*))).as("m"))
      .select("m.term", "m.begin", "m.end")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
  }

  test("finds single- and multi-word terms with char offsets, case-insensitively") {
    val text = "Spark joins data. A broadcast hash join beats a shuffle JOIN."
    val got = matches(text, Seq("join", "broadcast hash join", "spark"))
    // token-sequence semantics: "joins" is one token != "join"
    assert(got.contains(("spark", 0, 5)))
    assert(got.contains(("broadcast hash join", 20, 39)))
    val joins = got.filter(_._1 == "join")
    assert(joins.length === 2, s"got $joins")  // "join" inside the phrase + final "JOIN"
    joins.foreach { case (_, b, e) => assert(text.substring(b, e).equalsIgnoreCase("join")) }
  }

  test("parity with the broadcast-closure formulation on the documents corpus") {
    import spark.implicits._
    // CorpusGen pages carry html not text; use extracted text
    val rows = graft.testgen.CorpusGen.pages(30).zipWithIndex.map { case (gp, i) =>
      (i.toLong, graft.ingest.HtmlText.extractNormalized(gp.page.html).get)
    }
    val df = rows.toDF("doc_id", "text")
    val terms = Seq("founded", "headquartered in", "people", "acme corp")
    val native = graft.extract.DocExtract.mentionCounts(df, "doc_id", "text", terms)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val closure = FunctionsSpec.mentionCountsClosure(df, "doc_id", "text", terms)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(native === closure)
    assert(native.nonEmpty)
  }

  test("expression stays inside whole-stage codegen (no fallback)") {
    // a range source (not a LocalRelation, which the optimizer folds eagerly) so the
    // projection actually goes through WholeStageCodegen's generated java
    val df = spark.range(2)
      .select(concat(lit("doc "), col("id"), lit(" merge says merge")).as("text"))
      .select(size(call_function("ahocorasick_matches", col("text"),
        array(lit("merge"), lit("doc")))).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    // "*(1)" is the WholeStageCodegen marker in the compact plan string; a fallback
    // (CodegenFallback or interpreted Project) would drop the asterisk
    assert(plan.contains("*(1) Project"), s"plan lost codegen:\n$plan")
    // the plan string is printed BEFORE Janino compiles the generated java, so the
    // assertion above alone passes even when compilation fails at runtime and Spark
    // silently interprets the stage. Disable the silent fallback: with
    // codegen.fallback=false a Janino CompileException propagates and fails this test.
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
    val prevProjFactory =
      spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      // CODEGEN_ONLY also makes UnsafeProjection generation errors fatal rather than
      // silently dropping to InterpretedUnsafeProjection
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      assert(df.collect().map(_.getInt(0)).toSeq === Seq(3, 3))
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", prevProjFactory)
    }
  }

  test("simhash_md5 compiles under CODEGEN_ONLY and matches the driver-side kernel") {
    val df = spark.range(3)
      .select(split(concat(lit("tok"), col("id"), lit(" alpha beta")), " ").as("toks"))
      .select(call_function("simhash_md5", col("toks")).as("sig"))
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
    val prevProjFactory = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    val got = try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      df.collect().map(_.getLong(0)).toSeq
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", prevProjFactory)
    }
    val expected = (0 until 3).map { i =>
      graft.functions.SimhashMd5.run(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Seq(s"tok$i", "alpha", "beta").map(
            org.apache.spark.unsafe.types.UTF8String.fromString(_): Any)))
    }
    assert(got === expected)
    assert(got.distinct.size === 3) // per-row token differs → signatures differ
  }

  test("repetition_stats compiles under CODEGEN_ONLY and matches the agg formulation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a"), (2L, "one one one one"), (3L, "all distinct grams here"),
      (4L, "x"), (5L, "Mixed CASE mixed case Mixed")).toDF("doc_id", "text")
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
    val prevProjFactory = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    val kernel = try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      graft.text.TextAnalysis.repetition(docs, "doc_id", "text", n = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", prevProjFactory)
    }
    val agg = FunctionsSpec.repetitionAgg(docs, "doc_id", "text", n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(kernel === agg)
    assert(kernel.exists(_._1 == 5L)) // case folding matches the agg's lower()
  }

  test("null text and non-foldable terms are handled") {
    import spark.implicits._
    val df = Seq(Some("a merge b"), None).toDF("text")
      .select(call_function("ahocorasick_matches", col("text"), array(lit("merge"))).as("m"))
    val got = df.collect()
    assert(got(0).getSeq[Any](0).length === 1)
    assert(got(1).isNullAt(0))
    val err = intercept[Exception] {
      Seq(("x", "y")).toDF("text", "t")
        .select(call_function("ahocorasick_matches", col("text"), array(col("t"))))
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("foldable"))
  }
}

object FunctionsSpec {

  /** Broadcast-closure formulation of `DocExtract.mentionCounts`: the automaton is
    * broadcast and matched over each document's lowercased token stream, then one
    * aggregate. The native kernel's parity oracle. */
  def mentionCountsClosure(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val termsIdx = terms.toIndexedSeq
    val acB = spark.sparkContext.broadcast(
      AhoCorasick.build(termsIdx.map(t => PageKernel.lowered(t).split("\\s+").toSeq)))
    val hits = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ac = acB.value
        it.flatMap { case (id, text) =>
          val toks = Tokenizer.scan(text)
          val stream = toks.map(t => PageKernel.lowered(text.substring(t.begin, t.end)))
          ac.findAll(stream).map { case (_, _, dictId) => (id, dictId) }
        }
      }.toDF("id", "dict_id")
    hits.groupBy("dict_id")
      .agg(countDistinct("id").as("n_docs"), count(lit(1)).as("n_occ"))
      .withColumn("term",
        element_at(array(termsIdx.map(lit): _*), col("dict_id") + 1))
      .select("term", "n_docs", "n_occ")
  }

  /** Builtin formulation of `TextAnalysis.repetition`: explode to (doc, gram) rows,
    * then two keyed aggregations — on (doc_id, gram), then on doc_id. The
    * `repetition_stats` kernel's parity oracle. */
  def repetitionAgg(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val toks = graft.text.TextAnalysis.wsTokens(lower(col(textCol)))
    val grams = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol).as("doc_id"), explode(grams).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_grams"), count(lit(1)).as("n_distinct"),
        max("cnt").as("top_cnt"))
      .withColumn("dup_bp",
        floor((col("n_grams") - col("n_distinct")) * 10000L / col("n_grams")))
  }
}
