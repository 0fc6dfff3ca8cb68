package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.PageKernel
import graft.mention.Sentences
import graft.nlp.{Annotate, GazEntry, Gazetteer}

/**
 * Edge cases of the page kernel's token scan, each run through both producers — the
 * scan and `annotateOne` → `Sentences.group` → `Grid.build` — and compared column by
 * column, with chunks off and on; and the scan kernel's triples against `apply` over
 * the annotation rows.
 */
class ScanEdgeCaseSpec extends AnyFunSuite {

  private val gaz = Gazetteer.build(
    graft.testgen.CorpusGen.entities.map(GazEntry(_, "entity", "org")) ++
    graft.testgen.CorpusGen.cities.map(c => GazEntry(c, "city", "city")) ++ Seq(
      GazEntry("new york", "city", "city"), GazEntry("york city", "city", "metro"),
      GazEntry("izmir port", "entity", "Şehir"), GazEntry("TITAN", "ENTITY", "Ship")))

  /** Both producers' sentences of `text`, chunks off and on; returns the scan's. */
  private def same(text: String): Map[Boolean, Vector[PageKernel.Sentence]] =
    Seq(false, true).map { withChunks =>
      val got = PageKernel.scan("https://e.example.org/p", text, gaz, withChunks)
      val diffs = KernelParity.diff(got,
        KernelParity.oracle("https://e.example.org/p", text, gaz, withChunks))
      assert(diffs.isEmpty, s"chunks $withChunks: ${diffs.take(5).mkString("; ")}")
      Seq(false, true).foreach { withSyntax =>
        val k = KernelParity.kernel(withSyntax, gaz)
        if (withSyntax == withChunks) assert(k.extract("https://e.example.org/p", text) ===
          k("https://e.example.org/p", Sentences.group("https://e.example.org/p",
            Annotate.annotateOne("https://e.example.org/p", text, gaz, withChunks))))
      }
      withChunks -> got
    }.toMap

  private def labels(s: PageKernel.Sentence, col: Int): Seq[(String, Int, Int)] = {
    val c = s.grid.cols(col)
    c.labels.indices.map(k => (c.labels(k), c.spanOf(k), c.offOf(k)))
  }

  test("two overlapping Lookups sharing a label keep it twice, with their own spans") {
    val s = same("we met in new york city today")(false).head
    // columns: :start we met in new york city today
    assert(labels(s, 5).filter(_._1 == ":lookup|majortype|city") ===
      Seq((":lookup|majortype|city", 2, 1), (":lookup|majortype|city", 2, 0)))
    assert(s.grid.lookupSpans.size === 2)
  }

  test("a Lookup straddling the 300-token cap covers the last kept column only") {
    val filler = Seq.fill(299)("growth").mkString(" ")
    val s = same(s"$filler Acme Corp and Acme Corp again")(false).head
    assert(s.grid.cols.size === 302)
    assert(labels(s, 300).contains((":lookup|majortype|entity", 1, 0)))
    // both Lookups keep their extents, the one past the cap too
    assert(s.grid.lookupSpans.size === 2)
    assert(s.until - s.from === 305)
  }

  test("a Lookup overrunning a sentence end merges the sentences") {
    val text = "They moved to New\nYork soon. Then home"
    val byChunks = same(text)
    assert(byChunks(false).map(s => (s.begin, s.end)) ===
      Vector((0, text.indexOf('.')), (text.indexOf("Then"), text.length)))
    assert(byChunks(false).head.entities.isEmpty)
  }

  test("decimal numbers are one token and one :number span, and end no sentence") {
    val s = same("pi is 3.14 and v 10.0.1 ships. 7. Done")(false)
    assert(s.size === 3)
    val nums = s.head.grid.cols.filter(_.has(":number")).map(_.text)
    assert(nums === Seq("3.14", "10.0.1"))
  }

  test("an all-caps sentence skips the pattern passes but keeps its dictionary hits") {
    val text = "THE MARKET IN GOTHAM GREW. the market in Gotham grew."
    val s = same(text)(false)
    assert(s.map(_.allCaps) === Vector(true, false))
    val got = KernelParity.kernel(withSyntax = false, gaz).extract("https://e.example.org/p", text)
    assert(got.exists(t => t.obj == "GOTHAM" && t.profileId == -2L), got)
    assert(!got.exists(t => t.begin < 25 && t.profileId >= 0), got)
  }

  test("uppercase and non-ASCII labels lowercase alike under a Turkish default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try {
      val s = same("TITAN left Izmir Port for İzmir, ΟΔΟΣ Straße")(true).head
      val all = s.grid.cols.flatMap(_.labels).toSet
      assert(all.contains(":token|string|titan"), all)
      assert(all.contains(":lookup|majortype|entity") && all.contains(":lookup|minortype|ship"),
        all)
      assert(all.contains(":lookup|minortype|şehir"), all)
      // a Lookup is a subject candidate only when its major type is exactly "entity"
      assert(s.entities.map(_._3).toSeq === Seq("Izmir Port"))
    } finally java.util.Locale.setDefault(saved)
  }

  test("an empty page and a page of punctuation only") {
    assert(same("")(true).isEmpty)
    val p = same("... !!! ,,, ; --")(true)
    assert(p.map(s => (s.begin, s.end)) === Vector((8, 16)))
    assert(p.head.allCaps === false)
  }

  test("chunks on and off: chunk labels only with chunks, merging only through them") {
    val byChunks = same("the big\ndog barked at the cat")
    assert(byChunks(false).size === 2)
    assert(byChunks(true).size === 1)
    assert(byChunks(true).head.grid.cols.exists(_.has(":syntaxtreenode|cat|np")))
    assert(!byChunks(false).head.grid.cols.exists(_.has(":syntaxtreenode|cat|np")))
  }

  test("a token of more than 500 chars: capped values, the automaton reads it whole") {
    val long = "a" * 600
    val s = same(s"Acme Corp $long Acme Corp")(false).head
    assert(s.values(s.from + 2).length === 500)
    assert(s.entities.length === 2)
  }
}
