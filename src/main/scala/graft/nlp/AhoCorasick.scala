package graft.nlp

import scala.collection.mutable

/**
 * Aho-Corasick multi-pattern matcher over token streams.
 *
 * Plays the role of the reference's gazetteer Lookup stage and its inverted-index
 * candidate pruning (/root/reference/src/msa/ProfileInvertedIndex.java:10-337): the
 * automaton is built once on the driver from the (small) dictionary, broadcast to
 * executors, and run over each page's token sequence inside mapPartitions — the
 * "automata broadcast to executors" design point of the north rule.
 *
 * Generic in the alphabet: patterns are sequences of strings (lowercased tokens), so the
 * same machine serves word gazetteers and pattern-label streams.
 */
final class AhoCorasick private (
    val goto_ : Array[mutable.HashMap[String, Int]],
    val fail: Array[Int],
    val outputs: Array[List[(Int, Int)]] // (dictId, patternLength)
) extends Serializable {

  /** All matches as (startTokenIdx, endTokenIdxExclusive, dictId). */
  def findAll(tokens: IndexedSeq[String]): Vector[(Int, Int, Int)] =
    findAll(tokens, 0, tokens.length)

  /** [[findAll]] over `tokens(from until until)`, with indices into `tokens`. */
  def findAll(tokens: IndexedSeq[String], from: Int, until: Int): Vector[(Int, Int, Int)] = {
    val out = Vector.newBuilder[(Int, Int, Int)]
    var state = 0
    var i = from
    while (i < until) {
      val sym = tokens(i)
      var s = state
      while (s != 0 && !goto_(s).contains(sym)) s = fail(s)
      state = goto_(s).getOrElse(sym, 0)
      val o = state
      // outputs are pre-merged through fail links at build time
      outputs(o).foreach { case (dictId, len) => out += ((i + 1 - len, i + 1, dictId)) }
      i += 1
    }
    out.result()
  }
}

object AhoCorasick {
  def build(patterns: Seq[Seq[String]]): AhoCorasick = {
    val goto_ = mutable.ArrayBuffer(mutable.HashMap.empty[String, Int])
    val rawOut = mutable.ArrayBuffer(List.empty[(Int, Int)])
    patterns.zipWithIndex.foreach { case (p, id) =>
      var s = 0
      p.foreach { sym =>
        s = goto_(s).getOrElseUpdate(sym, {
          goto_ += mutable.HashMap.empty[String, Int]
          rawOut += Nil
          goto_.length - 1
        })
      }
      if (p.nonEmpty) rawOut(s) = (id, p.length) :: rawOut(s)
    }
    val n = goto_.length
    val fail = new Array[Int](n)
    val queue = mutable.Queue.empty[Int]
    goto_(0).valuesIterator.foreach { s => fail(s) = 0; queue += s }
    while (queue.nonEmpty) {
      val r = queue.dequeue()
      goto_(r).foreach { case (sym, s) =>
        queue += s
        var f = fail(r)
        while (f != 0 && !goto_(f).contains(sym)) f = fail(f)
        fail(s) = if (goto_(f).contains(sym) && goto_(f)(sym) != s) goto_(f)(sym) else 0
        rawOut(s) = rawOut(s) ++ rawOut(fail(s))
      }
    }
    new AhoCorasick(goto_.toArray, fail, rawOut.toArray)
  }
}
