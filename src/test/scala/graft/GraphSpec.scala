package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.kg.Graph

/** Hand-computed fixtures for the graph-side finishing operators: degree statistics,
  * predicate functionality profiles, and capped entity cards. */
class GraphSpec extends AnyFunSuite with SparkTest {

  private def triples = {
    import spark.implicits._
    Seq(
      ("e1", "born_in", "paris"),
      ("e1", "works_at", "acme"),
      ("e1", "works_at", "globex"),
      ("e2", "born_in", "rome"),
      ("hub", "mentions", "a"), ("hub", "mentions", "b"), ("hub", "mentions", "c"),
      ("hub", "mentions", "d"), ("hub", "born_in", "x")
    ).toDF("subj", "pred", "obj")
  }

  test("degreeStats: degree, distinct predicates, distinct objects per subject") {
    val out = Graph.degreeStats(triples, "subj", "pred", "obj")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out == Map(
      "e1" -> ((3L, 2L, 3L)),
      "e2" -> ((1L, 1L, 1L)),
      "hub" -> ((5L, 2L, 5L))))
  }

  test("predicateProfile: fanout in exact basis points") {
    val out = Graph.predicateProfile(triples, "subj", "pred", "obj")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // born_in: 3 triples over 3 subjects → functional, 10000 bp
    assert(out("born_in") == ((3L, 3L, 3L, 10000L)))
    // works_at: 2 triples over 1 subject → 20000 bp
    assert(out("works_at") == ((2L, 1L, 2L, 20000L)))
    // mentions: 4 triples over 1 subject → 40000 bp
    assert(out("mentions") == ((4L, 1L, 4L, 40000L)))
  }

  test("entityCards: capped, sorted, order-insensitive card bytes") {
    val out = Graph.entityCards(triples, "subj", "pred", "obj", k = 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out("e1") == ((3L, "born_in=paris; works_at=acme; works_at=globex")))
    assert(out("e2") == ((1L, "born_in=rome")))
    // hub capped at 3 facts in (pred, obj) order
    assert(out("hub") == ((3L, "born_in=x; mentions=a; mentions=b")))
  }

  test("toNTriples: IRI percent-encoding is injective, literals escape the grammar") {
    import spark.implicits._
    val tr = Seq(
      ("a b", "p<1>", "says \"hi\"\nline2\tend\\"),
      ("a%20b", "p<1>", "plain")).toDF("subj", "pred", "obj")
    val out = graft.kg.Graph.toNTriples(tr, "subj", "pred", "obj")
      .collect().map(_.getString(0)).sorted
    assert(out(0) ==
      "<https://kg.example/entity/a%20b> <https://kg.example/pred/p%3C1%3E> " +
        "\"says \\\"hi\\\"\\nline2\\tend\\\\\" .", s"escaping wrong: ${out(0)}")
    // '%' encodes first, so a subject already containing %20 stays distinct from
    // one containing a space — the encoding never collides two different subjects
    assert(out(1).startsWith("<https://kg.example/entity/a%2520b> "), out(1))
  }

  test("toNTriples: IRIs encode ALL IRIREF-forbidden chars; one physical line/triple") {
    import spark.implicits._
    // controls (newline, CR, tab, NUL) and the printable forbidden set { } | ^ `
    val tr = Seq(("a\nb\rc\td\u0000e", "p{1}|x^y`z", "ok")).toDF("subj", "pred", "obj")
    val out = graft.kg.Graph.toNTriples(tr, "subj", "pred", "obj")
      .collect().map(_.getString(0))
    assert(out.length == 1)
    assert(out(0).contains("entity/a%0Ab%0Dc%09d%00e>"), out(0))
    assert(out(0).contains("pred/p%7B1%7D%7Cx%5Ey%60z>"), out(0))
    // a subject/predicate control char must never split the record across lines
    assert(!out(0).exists(c => c == '\n' || c == '\r' || c.toInt < 0x20), out(0))
  }

  test("snapshotDiff classifies added/changed/removed/unchanged by content identity") {
    import spark.implicits._
    val prev = Seq(("u1", "h1"), ("u2", "h2"), ("u3", "h3")).toDF("url", "content_hash")
    val curr = Seq(("u1", "h1"), ("u2", "h2x"), ("u4", "h4")).toDF("url", "content_hash")
    val out = graft.kg.Incremental.snapshotDiff(prev, curr)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("u1" -> "unchanged", "u2" -> "changed",
      "u3" -> "removed", "u4" -> "added"))
  }

  test("snapshotDiff: presence is by url, not hash nullability; NULL hashes compare null-safe") {
    import spark.implicits._
    // u1: NULL hash in both snapshots (e.g. md5 of NULL text) — present both sides,
    // identical content → unchanged, NOT added/removed; u2: NULL → value is a change
    val prev = Seq(("u1", None: Option[String]), ("u2", None: Option[String]))
      .toDF("url", "content_hash")
    val curr = Seq(("u1", None: Option[String]), ("u2", Some("h2")))
      .toDF("url", "content_hash")
    val out = graft.kg.Incremental.snapshotDiff(prev, curr)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("u1" -> "unchanged", "u2" -> "changed"))
  }

  test("mergeTriples honors a non-default urlCol for all three frames") {
    import spark.implicits._
    val store = Seq(("s1", "p", "o", "u1"), ("s2", "p", "o", "u2"))
      .toDF("subj", "pred", "obj", "evidence_url")
    val delta = Seq(("s2b", "p", "o2", "u2")).toDF("subj", "pred", "obj", "evidence_url")
    val dirty = Seq("u2").toDF("evidence_url")
    val merged = graft.kg.Incremental.mergeTriples(store, delta, dirty, "evidence_url")
      .collect().map(r => (r.getString(0), r.getString(3))).toSet
    assert(merged == Set(("s1", "u1"), ("s2b", "u2")))
  }

  test("incremental merge over the re-extracted slice equals a full rebuild") {
    import spark.implicits._
    // store triples carry their evidence url; two triples per url to show the purge
    // drops ALL stale evidence, not one row
    def extract(snap: Seq[(String, String)]) = snap.flatMap { case (u, h) =>
      Seq((u, "hash", h, u), (u, "len", h.length.toString, u))
    }.toDF("subj", "pred", "obj", "url")
    val prevSnap = Seq(("u1", "h1"), ("u2", "h2"), ("u3", "h3"))
    val currSnap = Seq(("u1", "h1"), ("u2", "h2x"), ("u4", "h4"))
    val diff = graft.kg.Incremental.snapshotDiff(
      prevSnap.toDF("url", "content_hash"), currSnap.toDF("url", "content_hash"))
    // delta = extraction of ONLY the reextract slice (added + changed)
    val reex = graft.kg.Incremental.reextractUrls(diff)
      .collect().map(_.getString(0)).toSet
    assert(reex == Set("u2", "u4"), "re-extraction cost must be the changed slice only")
    val delta = extract(currSnap.filter(s => reex(s._1)))
    val merged = graft.kg.Incremental.mergeTriples(
        extract(prevSnap), delta, graft.kg.Incremental.dirtyUrls(diff))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val rebuild = extract(currSnap)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(merged == rebuild, "incremental merge diverged from the full rebuild")
  }

  test("latestSnapshot: one winning capture per url, all columns from the same row") {
    import spark.implicits._
    val crawls = Seq(
      ("u1", 1L, "old text", "h_old"),
      ("u1", 3L, "new text", "h_new"),
      ("u1", 2L, "mid text", "h_mid"),
      ("u2", 5L, "only", "h_only")).toDF("url", "ts", "text", "h")
    val out = graft.kg.Temporal.latestSnapshot(crawls, "url", "ts")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getString(2), r.getString(3)))).toMap
    assert(out == Map("u1" -> ((3L, "new text", "h_new")),
      "u2" -> ((5L, "only", "h_only"))))
    // timestamp tie: the winner is deterministic (hash tie-break), never a chimera
    val tied = Seq(("u1", 1L, "a", "ha"), ("u1", 1L, "b", "hb"))
      .toDF("url", "ts", "text", "h")
    val w1 = graft.kg.Temporal.latestSnapshot(tied, "url", "ts").collect().head
    val w2 = graft.kg.Temporal.latestSnapshot(tied.repartition(7), "url", "ts")
      .collect().head
    assert(w1 == w2, "tie winner depends on parallelism")
    assert(Set(("a", "ha"), ("b", "hb"))((w1.getString(2), w1.getString(3))),
      "winner mixed columns from different captures")
  }

  test("factHistory: first/last seen and support per fact") {
    import spark.implicits._
    val triples = Seq(
      ("s1", "p", "o1", 1L), ("s1", "p", "o1", 4L), ("s1", "p", "o1", 2L),
      ("s2", "p", "o2", 1L)).toDF("subj", "pred", "obj", "ts")
    val out = graft.kg.Temporal.factHistory(triples, "subj", "pred", "obj", "ts").collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out == Map("s1" -> ((1L, 4L, 3L)), "s2" -> ((1L, 1L, 1L))))
  }

  test("vocabulary: min-count gate and deterministic topN head") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The the THE apple apple banana"),
      (2L, "the apple zebra")
    ).toDF("doc_id", "text")
    val out = graft.text.TextAnalysis.vocabulary(docs, "text", minCount = 2L, topN = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // counts: the=4, apple=3, banana=1 (cut), zebra=1 (cut); topN=2 keeps the head
    assert(out.toSeq == Seq(("the", 4L), ("apple", 3L)))
  }
}
