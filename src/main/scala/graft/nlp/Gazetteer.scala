package graft.nlp

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
    automaton.findAll(stream).map { case (s, e, dictId) =>
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
}

object Gazetteer {
  def build(entries: Seq[GazEntry]): Gazetteer = {
    val idx = entries.toIndexedSeq
    val pats = idx.map(e => PageKernel.lowered(e.phrase).split("\\s+").toSeq)
    new Gazetteer(idx, AhoCorasick.build(pats))
  }
}
