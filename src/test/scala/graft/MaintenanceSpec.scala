package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sink.Maintenance

/** Annotation-store maintenance ops (ref RemoveDupSentAnnots / SkipDocsGrayedOut). */
class MaintenanceSpec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  test("removeDupSentAnnots: auto rows inside a dup span drop; everything else passes") {
    val annots = Seq(
      // auto inside the dup span [10, 50) — dropped
      ("u1", "kw", 12L, 15L, "##auto"),
      // auto straddling the dup boundary — kept (containment only)
      ("u1", "kw", 45L, 55L, "##auto"),
      // auto outside — kept
      ("u1", "kw", 60L, 63L, "##auto"),
      // human row inside the span — kept (provenance filter)
      ("u1", "kw", 20L, 22L, "gold"),
      // same span on a different doc — kept (no dup there)
      ("u2", "kw", 12L, 15L, "##auto"),
      ("u1", "SentenceDuplicate", 10L, 50L, "human"))
      .toDF("url", "annotType", "begin", "end", "provenance")
    val kept = Maintenance.removeDupSentAnnots(annots)
      .select("url", "annotType", "begin").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(!kept.contains(("u1", "kw", 12L)))
    assert(kept.contains(("u1", "kw", 45L)) && kept.contains(("u1", "kw", 60L)))
    assert(kept.contains(("u1", "kw", 20L)) && kept.contains(("u2", "kw", 12L)))
    assert(kept.contains(("u1", "SentenceDuplicate", 10L)))
  }

  test("removeDupSentAnnots: an ##auto dup span deletes itself (reference faithfulness)") {
    val annots = Seq(("u1", "SentenceDuplicate", 10L, 50L, "##auto"))
      .toDF("url", "annotType", "begin", "end", "provenance")
    assert(Maintenance.removeDupSentAnnots(annots).count() === 0)
  }

  test("isDisabled: coverage arm needs a contiguous gray run from 0 to lastEnd") {
    // contiguous from 0 → disabled even though a preload survives
    assert(Maintenance.isDisabled(
      grays = Seq((0L, 6L), (5L, 10L)), preloads = Seq((20L, 22L)), lastEnd = 10L))
    // starts at 1, not 0 → not disabled
    assert(!Maintenance.isDisabled(
      grays = Seq((1L, 10L)), preloads = Seq.empty, lastEnd = 10L))
    // a gap in the run → not disabled
    assert(!Maintenance.isDisabled(
      grays = Seq((0L, 4L), (6L, 10L)), preloads = Seq.empty, lastEnd = 10L))
  }

  test("isDisabled: preload arm — removal, trimming, trim-then-consume") {
    // full containment removes the only preload → disabled
    assert(Maintenance.isDisabled(
      grays = Seq((2L, 8L)), preloads = Seq((3L, 5L)), lastEnd = 100L))
    // partial overlaps only TRIM (left then right) → survives → not disabled
    assert(!Maintenance.isDisabled(
      grays = Seq((0L, 3L), (5L, 8L)), preloads = Seq((2L, 6L)), lastEnd = 100L))
    // trimmed remainder later fully contained → removed → disabled
    assert(Maintenance.isDisabled(
      grays = Seq((0L, 4L), (3L, 7L)), preloads = Seq((2L, 6L)), lastEnd = 100L))
    // one removed but another survives → not disabled
    assert(!Maintenance.isDisabled(
      grays = Seq((2L, 8L)), preloads = Seq((3L, 5L), (50L, 52L)), lastEnd = 100L))
    // nothing removed at all → not disabled even with zero preloads
    assert(!Maintenance.isDisabled(
      grays = Seq((2L, 8L)), preloads = Seq.empty, lastEnd = 100L))
  }

  test("isDisabled: the reference's unconditional currEnd=end quirk is replayed") {
    // a NESTED gray span ([1,3) inside [0,10)) SHRINKS the tracked run end —
    // SkipDocsGrayedOut.java:160-163 sets currEnd = end without a max() — so the
    // coverage arm reads currEnd=3 != lastEnd=10 and the doc is NOT disabled,
    // although the union of gray spans covers [0, 10)
    assert(!Maintenance.isDisabled(
      grays = Seq((0L, 10L), (1L, 3L)), preloads = Seq.empty, lastEnd = 10L))
  }

  test("disabledDocs end-to-end: coverage doc and consumed-preload doc disable") {
    val annots = Seq(
      // u1: gray covers the whole token range → disabled (coverage arm)
      ("u1", "Token", 0L, 5L, null), ("u1", "Token", 5L, 10L, null),
      ("u1", "gray", 0L, 10L, null),
      // u2: gray consumes the only kw preload → disabled (preload arm)
      ("u2", "Token", 0L, 5L, null), ("u2", "Token", 40L, 45L, null),
      ("u2", "kw", 2L, 4L, "spark"), ("u2", "gray", 0L, 10L, null),
      // u3: a kw survives outside the gray → stays enabled
      ("u3", "Token", 0L, 5L, null), ("u3", "Token", 40L, 45L, null),
      ("u3", "kw", 2L, 4L, "spark"), ("u3", "kw", 41L, 43L, "join"),
      ("u3", "gray", 0L, 10L, null),
      // u4: no gray at all → enabled
      ("u4", "Token", 0L, 5L, null), ("u4", "kw", 2L, 4L, "spark"))
      .toDF("url", "annotType", "begin", "end", "value")
    val disabled = Maintenance.disabledDocs(annots,
        grayTypes = Seq("gray"), preloadTypes = Seq("kw"))
      .as[String].collect().toSet
    assert(disabled === Set("u1", "u2"))
  }
}
