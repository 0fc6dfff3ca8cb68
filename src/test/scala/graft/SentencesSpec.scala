package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.mention.Sentences
import graft.nlp.Tokenizer

class SentencesSpec extends AnyFunSuite {

  test("annotations are assigned to containing sentences (J2 semantics)") {
    val text = "First one. Second two."
    val anns = Tokenizer.annotate("u", text, Tokenizer.scan(text))
    val groups = Sentences.group("u", anns)
    assert(groups.size === 2)
    assert(groups(0).annots.map(_.value) === Vector("First", "one"))
    assert(groups(1).annots.map(_.value) === Vector("Second", "two"))
    // containment: every annot begins within its sentence
    groups.foreach(g => g.annots.foreach(a =>
      assert(a.begin >= g.sentBegin && a.begin < g.sentEnd)))
  }

  test("sentence overrun by a long annotation merges with the next (ref GenSentences)") {
    val text = "met Acme. Corp today. done x"
    val anns = Tokenizer.annotate("u", text, Tokenizer.scan(text)) :+
      graft.model.Annotation("u", 999, "Lookup", 4, 14, "Acme. Corp",
        Map("majorType" -> "entity"), "gazetteer", 1.0)
    val groups = Sentences.group("u", anns)
    // first two sentences merge because the Lookup [4,14) crosses the boundary
    assert(groups.size === 2)
    assert(groups(0).sentEnd >= 14)
  }
}
