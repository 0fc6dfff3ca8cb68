package graft.nlp

import graft.align.Grid
import graft.extract.PageKernel
import graft.model.Annotation

/**
 * Dictionary (gazetteer) mention detection → `Lookup` annotations, the analog of the
 * reference's GATE gazetteer Lookups consumed as ":lookup|majortype|…" pattern tokens
 * (/root/reference/src/msa/AnnotationSequence.java:300-347) and of its dictionary pass
 * addSingleEntities (/root/reference/src/msa/AutoAnnotateNER.java:2294-2460).
 *
 * An entry is a multi-token phrase with a majorType/minorType. The compiled automaton is
 * small; callers broadcast it and run `annotate` per page inside mapPartitions.
 */
final case class GazEntry(phrase: String, majorType: String, minorType: String)

final class Gazetteer private (
    entries: IndexedSeq[GazEntry],
    automaton: AhoCorasick) extends Serializable {

  /** Lookup annotations over one page's tokens (longest matches kept; all matches
    * emitted, overlap resolution is downstream policy like the reference). */
  def annotate(url: String, text: String, toks: IndexedSeq[Tokenizer.Tok],
      firstId: Int, provenance: String = "gazetteer"): Vector[Annotation] = {
    val stream = toks.map(t => PageKernel.lowered(text.substring(t.begin, t.end)))
    var id = firstId
    matches(stream).map { case (s, e, dictId) =>
      val entry = entries(dictId)
      val begin = toks(s).begin
      val end = toks(e - 1).end
      val a = Annotation(url, id, "Lookup", begin, end, Tokenizer.safeValue(text, begin, end),
        Map("majorType" -> entry.majorType, "minorType" -> entry.minorType),
        provenance, 1.0)
      id += 1
      a
    }
  }

  /** Every entry occurrence in one page's lowered token stream, as (first token,
    * last token exclusive, dictId), in the automaton's order. */
  def matches(lowered: IndexedSeq[String]): Vector[(Int, Int, Int)] =
    automaton.findAll(lowered)

  def entry(dictId: Int): GazEntry = entries(dictId)

  /** The grid labels of each entry's Lookups ([[Grid.coverLabels]]), by dictId. */
  @transient private[graft] lazy val labels: IndexedSeq[Array[String]] =
    entries.map(e => Grid.coverLabels("Lookup",
      Map("majorType" -> e.majorType, "minorType" -> e.minorType)))
}

object Gazetteer {
  def build(entries: Seq[GazEntry]): Gazetteer = {
    val idx = entries.toIndexedSeq
    val pats = idx.map(e => PageKernel.lowered(e.phrase).split("\\s+").toSeq)
    new Gazetteer(idx, AhoCorasick.build(pats))
  }
}
