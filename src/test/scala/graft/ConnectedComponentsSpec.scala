package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.canon.ConnectedComponents
import graft.link.EntityLink

class ConnectedComponentsSpec extends AnyFunSuite with SparkTest {

  test("large-star/small-star finds components incl. chains and singletons") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "d"), // chain → comp a
      ("x", "y"),                          // pair → comp x
      ("s", "s")                           // self-loop singleton
    ).toDF("src", "dst")
    val comp = ConnectedComponents.run(edges).as[(String, String)].collect().toMap
    assert(comp("a") === "a" && comp("b") === "a" && comp("c") === "a" && comp("d") === "a")
    assert(comp("x") === "x" && comp("y") === "x")
    assert(comp("s") === "s")
  }

  test("mega-hub star (10^5-degree node): distributed path completes, no per-node array") {
    import spark.implicits._
    // round-4 verdict task #5: collect_set materialized a node's whole neighbour
    // set in one aggregation buffer — a mega-hub would blow an executor. The
    // two-phase min-aggregate keeps per-key state O(1); this pins the behavior on
    // a 100k-leaf star plus a side chain, on the FORCED-DISTRIBUTED path.
    val leaves = 100000
    val star = spark.range(leaves).select(
      org.apache.spark.sql.functions.lit("hub").as("src"),
      org.apache.spark.sql.functions.format_string("leaf%07d", org.apache.spark.sql.functions.col("id")).as("dst"))
    val chain = Seq(("leaf0000000", "aaa"), ("aaa", "aab")).toDF("src", "dst")
    val comp = ConnectedComponents.run(star.union(chain))
    val roots = comp.select("component").distinct().as[String].collect()
    assert(roots.toSeq == Seq("aaa"), s"star collapsed wrong: ${roots.toSeq}")
    assert(comp.count() === leaves.toLong + 3)
  }

  test("runAdaptive small-graph union-find == distributed rounds (same output)") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("s", "s"),
      ("q", "p"), ("p", "a"), ("m", "m2"), ("m2", "m"),
      // U+FFFD < U+1F600 in Spark's UTF-8 byte order, the reverse in UTF-16 units
      ("\uFFFD", "\uD83D\uDE00")
    ).toDF("src", "dst")
    val dist = ConnectedComponents.run(edges)
      .as[(String, String)].collect().toMap
    val local = ConnectedComponents.runAdaptive(edges)
      .as[(String, String)].collect().toMap
    assert(local === dist)
    // and the adaptive entry takes the DISTRIBUTED path above the threshold
    val forced = ConnectedComponents.runAdaptive(edges, smallGraphMaxEdges = 2)
      .as[(String, String)].collect().toMap
    assert(forced === dist)
  }

  test("entity linking blocks + jaccard produce expected edges") {
    import spark.implicits._
    val forms = Seq("Acme Corp", "acme corp", "Acme Corp Inc", "Globex Systems")
      .toDF("form")
    val edges = EntityLink.candidateEdges(forms, minJaccard = 0.5)(spark)
      .select("src", "dst").as[(String, String)].collect().toSet
    // family-a block (a:a:2) pair at jaccard 1.0 (also shares the minhash block —
    // the cross-family duplicate must be deduped to one edge)
    assert(edges.count(e => e == (("Acme Corp", "acme corp"))) == 1)
    // different token count puts "Acme Corp Inc" in another a: block, but its
    // md5-min token is still "corp" → the minhash family recovers the pair
    // (jaccard 2/3 ≥ 0.5) that single-family blocking lost
    assert(edges.contains(("Acme Corp Inc", "acme corp")))
    assert(edges.contains(("Acme Corp", "Acme Corp Inc")))
    assert(!edges.exists(e => e._1.contains("Globex") || e._2.contains("Globex")))
  }

  test("over-cap block: aliases dropped from family a still link via minhash; audit") {
    import spark.implicits._
    // all four forms share family-a block a:z:2; cap=2 keeps only "za aa"/"zb bb"
    // there — but the two international aliases share md5-min token "international"
    // (15d7… < md5 of zeta/zulu), so the m: family still pairs them (jaccard 1/3)
    val forms = Seq("za aa", "zb bb", "zeta international", "zulu international")
      .toDF("form")
    val edges = EntityLink.candidateEdges(forms, minJaccard = 0.3, maxBlockSize = 2)(spark)
      .select("src", "dst").as[(String, String)].collect().toSet
    assert(edges.contains(("zeta international", "zulu international")),
      s"minhash family failed to recover the over-cap pair: $edges")
    // the drop is NOT silent: the audit names the over-cap block and its loss
    val audit = EntityLink.blockAudit(forms, maxBlockSize = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(audit.toSeq == Seq(("a:z:2", 4L, 2L)), audit.mkString(","))
  }

  test("entity linking embedding scoring links same-block aliases by cosine") {
    import spark.implicits._
    // "j smith" / "john smith" share block (j:2) and an identical direction vector;
    // "jane doe" is in the same block but orthogonal; "zeta co" is another block and
    // must never be compared even with a parallel vector.
    val forms = Seq(
      ("J. Smith", Array(1.0f, 0.0f, 0.0f)),
      ("john smith", Array(2.0f, 0.0f, 0.0f)),
      ("jane doe", Array(0.0f, 1.0f, 0.0f)),
      ("zeta co", Array(3.0f, 0.0f, 0.0f))
    ).toDF("form", "vec")
    val edges = EntityLink.candidateEdgesEmbedding(forms, minCosBp = 8000L)(spark)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(edges.toSeq == Seq(("J. Smith", "john smith", 10000L)))
  }

  test("canonicalization is deterministic across runs") {
    import spark.implicits._
    val edges = (1 to 50).map(i => (s"n${i}", s"n${i + 1}")).toDF("src", "dst")
    val c1 = ConnectedComponents.run(edges).orderBy("node").collect().toSeq
    val c2 = ConnectedComponents.run(edges).orderBy("node").collect().toSeq
    assert(c1 === c2)
    // single chain: all nodes share the min component "n1"... (lexicographic min)
    val comps = c1.map(_.getString(1)).distinct
    assert(comps.size === 1)
  }
}
