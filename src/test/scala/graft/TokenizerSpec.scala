package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.nlp.Tokenizer

class TokenizerSpec extends AnyFunSuite {

  test("word/number/punct tokens with exact offsets") {
    val text = "Acme was founded in 1997."
    val toks = Tokenizer.scan(text)
    assert(toks.map(t => (text.substring(t.begin, t.end), t.kind)) === Vector(
      ("Acme", "word"), ("was", "word"), ("founded", "word"), ("in", "word"),
      ("1997", "number"), (".", "punctuation")))
  }

  test("decimal numbers stay one token") {
    val toks = Tokenizer.scan("pi is 3.14 ok")
    assert(toks.exists(t => t.kind == "number" && t.end - t.begin == 4))
  }

  test("sentence splitting on punctuation runs and newlines") {
    val text = "First one. Second two!  Third\nFourth"
    val s = Tokenizer.sentences(text).map { case (b, e) => text.substring(b, e) }
    assert(s === Vector("First one", "Second two", "Third", "Fourth"))
  }

  test("annotations carry orth features and per-doc sequential ids") {
    val text = "IBM bought Acme."
    val anns = Tokenizer.annotate("u", text, Tokenizer.scan(text))
    val orths = anns.filter(_.annotType == "Token")
      .flatMap(a => a.features.get("orth"))
    assert(orths === Vector("allCaps", "lowercase", "upperInitial"))
    assert(anns.map(_.annotId) === anns.indices.toVector)
    val sent = anns.filter(_.annotType == "Sentence")
    assert(sent.map(_.value) === Vector("IBM bought Acme"))
  }

  test("offsets always within text, annotations deterministic") {
    val text = "a " * 100 + "end. 42"
    val a1 = Tokenizer.annotate("u", text, Tokenizer.scan(text))
    val a2 = Tokenizer.annotate("u", text, Tokenizer.scan(text))
    assert(a1 === a2)
    assert(a1.forall(a => a.begin >= 0 && a.end <= text.length && a.begin <= a.end))
  }
}
