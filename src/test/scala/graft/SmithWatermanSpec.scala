package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.align.{Grid, MSA, SmithWaterman}
import graft.nlp.Tokenizer

/** SW kernel + MSA pattern-induction fixtures, adapted from the reference's built-in
  * examples (/root/reference/src/msa/MultipleSequenceAlignment.java:355-374: rows
  * "there is a ##" + "is a large and big ##" → profile "is a - ##"). */
class SmithWatermanSpec extends AnyFunSuite {

  private def gridOf(text: String, target: String): Grid = {
    val anns = Tokenizer.annotate("u", text, Tokenizer.scan(text))
    val b = text.indexOf(target)
    Grid.build("u", 0, text.length, anns.filter(_.annotType != "Sentence"),
      Seq((b, b + target.length)))
  }

  test("golden: 'there is a ##' vs 'is a large and big ##' → is a - ##") {
    val g1 = gridOf("there is a 42", "42")
    val g2 = gridOf("is a large and big 42", "42")
    val al = SmithWaterman.align(g1, g2)
    assert(al.coversTarget)
    val pat = MSA.toPattern(al, MSA.Gates(maxGaps = 4)).get
    val core = pat.dropWhile(t => t == Grid.Start || t == Grid.Gap)
      .reverse.dropWhile(t => t == Grid.End || t == Grid.Gap).reverse
    assert(core === Vector(":token|string|is", ":token|string|a", Grid.Gap, Grid.Target))
  }

  test("identical sentences align with zero gaps") {
    val g = gridOf("Acme was founded in 1997", "1997")
    val al = SmithWaterman.align(g, g)
    assert(al.gapCount === 0)
    assert(al.coversTarget)
    assert(al.anchors.size === g.cols.size)
  }

  test("label-disjoint sentences are rejected by the gap gate (K2)") {
    val g1 = gridOf("alpha beta 1", "1")
    val g2 = gridOf("gamma delta x y z", "gamma")
    val al = SmithWaterman.align(g1, g2)
    // the :target slots still anchor (reference semantics: target match = 10^6), so
    // induction yields only the trivially generic [:start, :gap, :target] — junk that
    // the precision gate kills downstream; a minAnchors=3 gate drops it at induction
    assert(MSA.toPattern(al, MSA.Gates(maxGaps = 4)).forall(_.count(t =>
      t != Grid.Start && t != Grid.End && t != Grid.Gap) <= 1))
    assert(MSA.toPattern(al, MSA.Gates(maxGaps = 4, minAnchors = 3)) === None)
  }

  test("alignment is symmetric in score") {
    val g1 = gridOf("there is a 42", "42")
    val g2 = gridOf("is a large and big 42", "42")
    assert(SmithWaterman.align(g1, g2).score === SmithWaterman.align(g2, g1).score)
  }

  // ---- K1 fidelity: multi-token advance, score map, relation-index consistency ----
  // (ref SmithWatermanDim.java:233-245, :116-138, :602-610; fixture shapes after the
  //  commented multi-token examples at :722-857, e.g. "metamap:anatomy" spanning
  //  columns 1-3 aligned as ONE element)

  private def gridWithLookup(text: String, entity: String, major: String): Grid = {
    val anns = Tokenizer.annotate("u", text, Tokenizer.scan(text))
      .filter(_.annotType != "Sentence")
    val b = text.indexOf(entity)
    val lk = graft.model.Annotation("u", 900, "Lookup", b, b + entity.length, entity,
      Map("majorType" -> major), "gaz", 1.0)
    Grid.build("u", 0, text.length, anns :+ lk)
  }

  test("multi-token Lookup aligns as ONE anchor advancing both indices by its span") {
    // entity texts differ (no string/root anchor), majortype shared: the 3-column
    // Lookup must produce a single anchor of weight 7×3, not three per-column anchors
    val g1 = gridWithLookup("met new york city mayor", "new york city", "city")
    val g2 = gridWithLookup("met los angeles county mayor", "los angeles county", "city")
    val al = SmithWaterman.align(g1, g2)
    val lookupAnchors = al.anchors.filter(_.label == ":lookup|majortype|city")
    assert(lookupAnchors.size === 1)
    assert(lookupAnchors.head.iSpan === 3 && lookupAnchors.head.jSpan === 3)
    val pat = MSA.toPattern(al, MSA.Gates(maxGaps = 4), requireTarget = false).get
    assert(pat.count(_ == ":lookup|majortype|city") === 1)
    // interior of the multi-column anchor is consumed, not a gap
    assert(!pat.containsSlice(Seq(":lookup|majortype|city", Grid.Gap,
      ":token|string|mayor")))
  }

  test("unequal spans: k-vs-1 column entities align once, scoring weight × max span") {
    val g1 = gridWithLookup("met new york mayor", "new york", "city")
    val g2 = gridWithLookup("met boston mayor", "boston", "city")
    val al = SmithWaterman.align(g1, g2)
    val lk = al.anchors.filter(_.label == ":lookup|majortype|city")
    assert(lk.size === 1)
    assert(lk.head.iSpan === 2 && lk.head.jSpan === 1)
    assert(al.gapCount === 0) // met [entity] mayor aligns flush on both sides
    val pat = MSA.toPattern(al, MSA.Gates(maxGaps = 0), requireTarget = false).get
    assert(pat === Vector(Grid.Start, ":token|string|met", ":lookup|majortype|city",
      ":token|string|mayor", Grid.End))
  }

  test("relation-index consistency: first binding wins, conflicting matches skipped") {
    import graft.align.GridCol
    def col(b: Int, ls: String*) = GridCol(b, b + 1, ls.toArray, s"t$b")
    val g1 = Grid("u", 0, 10, Vector(
      col(0, ":relation.arg|role|1"), col(1, ":token|string|x"),
      col(2, ":relation.arg|role|1")))
    val g2 = Grid("u", 0, 10, Vector(
      col(0, ":relation.arg|role|2"), col(1, ":token|string|x"),
      col(2, ":relation.arg|role|3")))
    val al = SmithWaterman.align(g1, g2)
    // index 1 binds to 2 at (0,0); the would-be (2,2) match has index 3 ≠ 2 → skipped
    assert(al.anchors.map(_.label) ===
      Vector(":relation.arg|role|1", ":token|string|x"))
  }
}
