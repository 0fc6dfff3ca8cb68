package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.extract.PageKernel
import graft.nlp.{AhoCorasick, Tokenizer}

/**
 * Native Catalyst expression `ahocorasick_matches(text, array(<terms>))` →
 * `array<struct<term:string, begin:int, end:int>>`: all dictionary-term occurrences in
 * `text`, matched as token sequences by an Aho-Corasick automaton over the engine
 * tokenizer's lowercased token stream; begin/end are character offsets.
 *
 * This is the codegen'd upgrade of the broadcast-closure gazetteer (SURVEY.md §7.3's
 * one candidate custom Expression): the automaton is compiled ONCE at plan time from
 * the foldable terms literal and embedded in the generated code as a reference object —
 * no per-row closure dispatch, no UDF serialization, and the expression participates in
 * whole-stage codegen (doGenCode emits a single static call), keeping scans with
 * mention predicates inside one generated loop.
 *
 * Registered by [[GraftExtensions]]; reference analog: the gazetteer Lookup stage of
 * the GATE pipeline (/root/reference/src/gate/GateBatch.java:296-305) and the
 * inverted-index candidate probe (/root/reference/src/msa/ProfileInvertedIndex.java).
 */
final case class AhoCorasickMatches(child: Expression, terms: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ahocorasick_matches requires a STRING column, got ${child.dataType.sql}")

  override def dataType: DataType = AhoCorasickMatches.outType

  override def prettyName: String = "ahocorasick_matches"

  // compiled once per (planned) expression instance; serialized to executors with the
  // generated-code references, never rebuilt per row
  @transient private lazy val automaton: AhoCorasick =
    AhoCorasick.build(terms.map(t => PageKernel.lowered(t).split("\\s+").toSeq))
  @transient private lazy val termArr: Array[UTF8String] =
    terms.map(UTF8String.fromString).toArray

  override def nullSafeEval(input: Any): Any =
    AhoCorasickMatches.run(automaton, termArr, input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acRef = ctx.addReferenceObj("ahoc", automaton, classOf[AhoCorasick].getName)
    // NOTE: must be the Java *source* syntax for the array type — addReferenceObj splices
    // this string into a generated cast, and Janino rejects the JVM binary name
    // ("[Lorg.apache.spark.unsafe.types.UTF8String;") that Array[_].getName returns.
    val termsRef = ctx.addReferenceObj("ahocTerms", termArr,
      "org.apache.spark.unsafe.types.UTF8String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.AhoCorasickMatches$$.MODULE$$.run(
         |  $acRef, $termsRef, $c.toString());""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AhoCorasickMatches {

  val outType: ArrayType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("begin", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false))), containsNull = false)

  /** Executor-side kernel, called from both interpreted eval and generated code. */
  def run(ac: AhoCorasick, terms: Array[UTF8String], text: String): ArrayData = {
    val toks = Tokenizer.scan(text)
    val stream = toks.map(t => PageKernel.lowered(text.substring(t.begin, t.end)))
    val hits = ac.findAll(stream)
    val rows = new Array[Any](hits.length)
    var i = 0
    while (i < hits.length) {
      val (s, e, dictId) = hits(i)
      rows(i) = InternalRow(terms(dictId), toks(s).begin, toks(e - 1).end)
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** FunctionRegistry builder: terms must be a foldable array<string> literal so the
    * automaton can be compiled at plan time. */
  def create(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      "ahocorasick_matches(text, array(<terms>)) takes exactly 2 arguments")
    val termsExpr = exprs(1)
    require(termsExpr.foldable && termsExpr.dataType.isInstanceOf[ArrayType],
      "ahocorasick_matches: terms must be a foldable array<string> literal")
    val arr = termsExpr.eval().asInstanceOf[ArrayData]
    val terms = (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
    AhoCorasickMatches(exprs.head, terms)
  }
}
