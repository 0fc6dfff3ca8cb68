package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Native kernel expressions vs their pure-builtin formulations: bit-identical. */
class DedupSpec extends AnyFunSuite with SparkTest {

  private def docs = {
    import spark.implicits._
    (graft.testgen.CorpusGen.pages(40).zipWithIndex.map { case (gp, i) =>
      (i.toLong, graft.ingest.HtmlText.extractNormalized(gp.page.html).get)
    } ++ Seq((1000L, "  short  "), (1001L, "a b c"), (1002L, "x \t y\nz  w x y z w")))
      .toDF("doc_id", "text")
  }

  test("word_shingles == HOF shingles formulation, element order included") {
    val native = docs.select(col("doc_id"), Dedup.shingles(col("text"), 4).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val hof = docs.select(col("doc_id"), DedupSpec.shinglesHof(col("text"), 4).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(native.keySet === hof.keySet)
    native.keySet.foreach { k =>
      assert(native(k) === hof(k), s"doc $k shingles diverged")
    }
    assert(native.values.exists(_.nonEmpty))
    assert(native(1001L).isEmpty, "below-n doc must give empty shingles")
  }

  test("minhash_md5 == HOF md5 minhash formulation") {
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val native = sh.select(col("doc_id"), Dedup.minhashSig(col("sh"), 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val hof = sh.select(col("doc_id"), DedupSpec.minhashSigHof(col("sh"), 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(native === hof)
  }

  test("jaccardPairs finds the planted near-duplicate and skips distinct docs") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = base + " lambda" // high overlap
    val far = "one two three four five six seven eight nine ten"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", n = 3,
      minJaccardBp = 5000L, maxPosting = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("simhash of identical docs is equal; near docs within banding reach") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different content about spark plans and shuffles today")).toDF("id", "text")
    val sigs = Dedup.simhash(df, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
  }

  test("canonicalDocs: exact dups and near-dup clusters map to one representative") {
    import spark.implicits._
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val df = Seq(
      (10L, a),                                       // cluster representative
      (20L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 zz"),         // near-dup of 10 (jacc 4/10)
      (30L, a),                                       // exact dup of 10
      (40L, "totally unrelated text with its own words here")).toDF("doc_id", "text")
    val canon = Dedup.canonicalDocs(df, "doc_id", "text",
        n = 4, minJaccardBp = 3000L)(spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(canon == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 40L))
  }

  test("canonicalDocs: ids wider than 12 digits and negative ids keep exact clustering") {
    import spark.implicits._
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val df = Seq(
      // 14-digit ids, distinct texts that are near-dups: must merge to the NUMERIC min
      (10000000000001L, a),
      (10000000000002L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 zz"),
      // negative ids (xxhash64-style), near-dups: canon must be the numeric min (-6)
      (-5L, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10"),
      (-6L, "n1 n2 n3 n4 n5 n6 n7 n8 n9 qq"),
      (7L, "totally unrelated text with its own words here")).toDF("doc_id", "text")
    val canon = Dedup.canonicalDocs(df, "doc_id", "text",
        n = 4, minJaccardBp = 3000L)(spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(canon == Map(
      10000000000001L -> 10000000000001L, 10000000000002L -> 10000000000001L,
      -5L -> -6L, -6L -> -6L, 7L -> 7L))
  }

  test("simhash_md5 native kernel == the explode + bit-sum aggregate formulation") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "spark plans shuffles exchanges and broadcast joins"),
      (3L, "a a a b"), // multiplicity matters for the majority vote
      (4L, ""), (5L, "   "), // zero tokens → 0
      (6L, "single")).toDF("id", "text")
    val kernel = Dedup.simhash(df, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = DedupSpec.simhashAgg(df, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel === agg)
    assert(kernel(4L) === 0L && kernel(5L) === 0L)
  }
}

/** The pure-builtin formulations of the dedup kernels: their parity oracles. */
object DedupSpec {

  /** `Dedup.shingles` as higher-order functions (interpreted, an array copy per
    * slice): deduplicated word n-grams in first-occurrence order. */
  def shinglesHof(text: Column, n: Int): Column = {
    val toks = filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)
    val grams = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
    array_distinct(grams)
  }

  /** `Dedup.minhashSig` as `numHashes` interpreted passes per row. */
  def minhashSigHof(sh: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(sh, g => md5(concat(lit(i.toString), lit(":"), g))))
    }: _*)

  /** `Dedup.simhash` as an aggregate: explode → md5 per token → one groupBy with 60
    * bit-count sums, left-joined back so zero-token docs keep signature 0. */
  def simhashAgg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(filter(split(lower(trim(col(textCol))), "\\s+"),
          t => length(t) > 0)).as("tok"))
      .select(col("id"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
    val bitSums = (0 until Dedup.SimhashBits).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(1L)).as(s"c$b"))
    val agg = toks.groupBy("id")
      .agg(count(lit(1)).as("n"), bitSums: _*)
    val sig = (0 until Dedup.SimhashBits).map(b =>
      when(col(s"c$b") * 2L > col("n"), lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _) // disjoint bits: + == bitwise OR
    val sigs = agg.select(col("id"), sig.as("simhash0"))
    df.select(col(idCol).as("id")).join(sigs, Seq("id"), "left")
      .select(col("id"), coalesce(col("simhash0"), lit(0L)).as("simhash"))
  }
}
