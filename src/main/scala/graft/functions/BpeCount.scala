package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Opaque, plan-friendly holder for a BPE merge table: renders as a count in plan
  * dumps (never its contents), compares by content so plan canonicalization treats
  * equal tables as equal, rebuilds its rank map lazily per JVM. Keys are `"a b"`
  * (symbols never contain whitespace — words are whitespace-split before
  * segmentation). */
final class MergeRanks(val pairs: Array[String]) extends Serializable {
  @transient lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](pairs.length * 2)
    var i = 0
    while (i < pairs.length) { m.put(pairs(i), Integer.valueOf(i)); i += 1 }
    m
  }
  override def toString: String = s"MergeRanks(n=${pairs.length})"
  override def hashCode: Int =
    java.util.Arrays.hashCode(pairs.asInstanceOf[Array[AnyRef]])
  override def equals(o: Any): Boolean = o match {
    case m: MergeRanks => java.util.Arrays.equals(
      pairs.asInstanceOf[Array[AnyRef]], m.pairs.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
}

/**
 * Native Catalyst expression `bpe_count(text)` → bigint: the number of BPE subword
 * tokens across the LOWERCASED whitespace words of `text`, under a trained merge
 * table carried as one reference object. Segmentation is the classic greedy loop —
 * merge the leftmost occurrence of the lowest-rank adjacent pair until none applies —
 * bit-identical to [[graft.text.Bpe.segment]] and to the q62 oracle's recursive-CTE
 * replay. One JIT-compiled pass per document inside whole-stage codegen; null → null.
 */
final case class BpeCount(child: Expression, merges: MergeRanks)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_count requires a STRING column, got ${child.dataType.sql}")

  override def dataType: DataType = LongType

  override def prettyName: String = "bpe_count"

  override def nullSafeEval(input: Any): Any =
    BpeCount.run(merges, input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerges", merges, classOf[MergeRanks].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeCount$$.MODULE$$.run($ref, $c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeCount {

  /** The engine's ONE whitespace predicate: the Java-regex `\s` ASCII class
    * `[ \t\n\x0B\f\r]` — exactly what Spark's `split(_, "\\s+")` (wsTokenCount /
    * n_ws) matches, so n_bpe and n_ws agree on which words exist for ANY corpus.
    * Deliberately NOT `Character.isWhitespace` (wider: –, U+2028…) and
    * NOT Unicode \s (U+00A0 etc.). Residual known divergence: DuckDB's RE2 `\s`
    * omits \x0B — shared by every toksSql-based oracle and only observable on
    * corpora containing vertical tabs (none of the fixtures do; see FIXTURES.md). */
  @inline def isWs(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** Executor-side kernel, called from both interpreted eval and generated code. */
  def run(mr: MergeRanks, text: UTF8String): Long = {
    val s = text.toString
    val n = s.length
    var total = 0L
    var i = 0
    while (i < n) {
      if (isWs(s.charAt(i))) i += 1
      else {
        var j = i + 1
        while (j < n && !isWs(s.charAt(j))) j += 1
        total += countWord(mr.ranks,
          s.substring(i, j).toLowerCase(java.util.Locale.ROOT))
        i = j
      }
    }
    total
  }

  private def countWord(ranks: java.util.HashMap[String, Integer], w: String): Int = {
    val n = w.length
    // megatoken guard (graft.text.Bpe.MaxWordLen): the greedy loop is O(len²), so
    // overlong unbroken tokens count as their char length — deterministic, mirrored
    // by the q62 oracle, and an over-estimate (the safe direction for budgets)
    if (n > graft.text.Bpe.MaxWordLen) return n
    if (n <= 1) return n
    val syms = new java.util.ArrayList[String](n)
    var i = 0
    while (i < n) { syms.add(String.valueOf(w.charAt(i))); i += 1 }
    var done = false
    while (!done && syms.size > 1) {
      var bi = -1
      var br = Int.MaxValue
      var j = 0
      while (j < syms.size - 1) {
        val r = ranks.get(syms.get(j) + " " + syms.get(j + 1))
        if (r != null && r.intValue() < br) { br = r.intValue(); bi = j }
        j += 1
      }
      if (bi < 0) done = true
      else {
        syms.set(bi, syms.get(bi) + syms.get(bi + 1))
        syms.remove(bi + 1)
      }
    }
    syms.size
  }

  /** Column wrapper (merge table is runtime data — bypasses the literal-only
    * FunctionRegistry path: the table rides along as one reference object, never a
    * plan literal). */
  def column(text: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      BpeCount(org.apache.spark.sql.graftshim.ColumnBridge.expression(text),
        new MergeRanks(merges.map { case (a, b) => a + " " + b }.toArray)))
}
