package graft

import java.nio.file.Files

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{Extract, PageKernel}
import graft.model.{Mention, Page, SentenceAnnots, Triple}
import graft.nlp.Annotate
import graft.pipeline.KGPipeline
import graft.testgen.CorpusGen

/**
 * The page kernel against the relational chain it replaced in `KGPipeline`'s corpus
 * pass (pair matching, prior veto, dictionary pass, same-span dedup, W4 merge, subject
 * resolution as separate Dataset operators): raw triples equal row for row, on all
 * nine columns.
 */
class PageKernelSpec extends AnyFunSuite with SparkTest {
  import PageKernelSpec._

  private def model: LearnedModel = LearnedModel.model

  private def viaKernel(sents: Dataset[SentenceAnnots]): Seq[Triple] = {
    val kernel = model.kernel
    sents.collect().toSeq.groupBy(_.url).toSeq
      .flatMap { case (url, ss) => kernel(url, ss.reverse) } // any sentence order
  }

  private def assertSameRows(pages: Seq[Page]): Seq[Triple] = {
    import spark.implicits._
    val sents = Annotate.annotateSentences(spark.createDataset(pages), CorpusGen.gazetteer)
      .cache()
    val want = sorted(model.relational(sents))
    val got = sorted(viaKernel(sents))
    sents.unpersist()
    assert(want.nonEmpty)
    assert(got.size === want.size)
    got.zip(want).foreach { case (g, w) => assert(g === w) }
    got
  }

  test("the model exercises relation patterns, the veto and the dictionary") {
    assert(model.rel.exists(r => model.allowed.keySet.exists(_._1 == r.profileId)),
      "no gated two-slot relation pattern")
    assert(model.plain.nonEmpty, "no plain pattern survived the gate")
    assert(model.dict.nonEmpty && model.veto.values.exists(_ == -1L))
  }

  test("kernel == relational chain, row for row, on a CorpusGen corpus") {
    val got = assertSameRows(CorpusGen.pages(120).map(_.page))
    assert(got.exists(_.profileId == -2L), "no dictionary triple")
    assert(got.exists(t => t.pred == "hq-city" && t.obj == "Gotham" && t.profileId == -2L),
      "the vetoed city must still come from the dictionary pass")
    assert(!got.exists(t => t.obj == "Gotham" && t.profileId >= 0 &&
      t.pred == "hq-city"), "veto did not apply to pattern mentions")
    assert(got.exists(t => t.pred == "filler" && t.obj.contains(" ")), "no W4 merge")
  }

  test("kernel == relational chain, row for row, on many-bodied pages") {
    val got = assertSameRows(ManyBodied)
    val relIds = model.rel.map(_.profileId).toSet
    assert(got.exists(t => t.profileId >= 0 && !relIds(t.profileId)), "no mention triple")
    assert(got.exists(t => relIds(t.profileId)), "no relation triple")
  }

  test("same-span dedup keeps one whole winner: score, then lowest profileId, then " +
      "the value greatest in UTF-8 byte order") {
    import spark.implicits._
    // U+FFFD sorts below U+1F600 in UTF-8 bytes but above its surrogates in UTF-16
    val ms = Seq(
      Mention("u", "t", 0, 3, "\uFFFD", 5L, 0.5),
      Mention("u", "t", 0, 3, "\uD83D\uDE00", 5L, 0.5),
      Mention("u", "t", 4, 6, "a", 7L, 0.9),
      Mention("u", "t", 4, 6, "b", 3L, 0.9),
      Mention("u", "t", 8, 9, "x", 1L, 0.2),
      Mention("u", "t", 8, 9, "y", 9L, 0.7),
      Mention("u", "t", 10, 12, "neg", 2L, -0.0),
      Mention("u", "t", 10, 12, "pos", 4L, 0.0))
    val local = PageKernel.dedupMentions(ms).sortBy(_.begin)
    val spark1 = Extract.dedupMentions(spark.createDataset(ms)).collect().toSeq.sortBy(_.begin)
    assert(local === spark1)
    assert(local.map(_.value) === Seq("\uD83D\uDE00", "b", "y", "neg"))
  }

  test("W4 merge: a span nested in an earlier one does not split the group") {
    import spark.implicits._
    val ms = Seq(Mention("u", "t", 0, 10, "a", 3L, 0.5), Mention("u", "t", 2, 4, "b", 1L, 0.9),
      Mention("u", "t", 8, 12, "c", 2L, 0.7), Mention("u", "t", 20, 22, "d", 4L, 0.1))
    val want = Seq(Mention("u", "t", 0, 12, "a b c", 1L, 0.9),
      Mention("u", "t", 20, 22, "d", 4L, 0.1))
    assert(PageKernel.mergeAdjacent(ms).sortBy(_.begin) === want)
    assert(Extract.mergeAdjacent(spark.createDataset(ms)).collect().toSeq.sortBy(_.begin)
      === want)
  }

  test("subject resolution: every sentence containing the mention supplies candidates") {
    // a merge that stops inside an overrunning gold span leaves overlapping sentence
    // spans whose ends are not ascending: [0,40), [22,30), [32,50)
    def lookup(b: Int, e: Int, v: String) = graft.model.Annotation("https://h/p", 0,
      "Lookup", b, e, v, Map("majorType" -> "entity"), "gazetteer", 1.0)
    val sents = Seq(SentenceAnnots("https://h/p", 0, 40, Seq(lookup(30, 34, "Near"))),
      SentenceAnnots("https://h/p", 22, 30, Seq(lookup(24, 26, "Mid"))),
      SentenceAnnots("https://h/p", 32, 50, Seq(lookup(40, 45, "After"))))
    val subjects = PageKernel.Subjects("https://h/p", sents, "entity")
    def subj(b: Int) = subjects.resolve(Mention("https://h/p", "t", b, b + 1, "v", 1L, 1.0)).subj
    assert(subj(35) === "Near") // in the first and third sentences, not the second
    assert(subj(27) === "Mid") // in the first two
    assert(subj(45) === "After") // the third only
    assert(subj(1) === "Near") // the first only: a following subject
    assert(subj(60) === "h") // none: the host
  }

  test("runAndWrite commits the same rows at 1 and 8 input partitions") {
    import spark.implicits._
    val gold = spark.createDataset(CorpusGen.pages(30).flatMap(CorpusGen.goldAnnotations))
    def committed(parts: Int): Seq[String] = {
      val out = Files.createTempDirectory("graft_kernel_parts").resolve("out").toString
      KGPipeline.runAndWrite(CorpusGen.pagesDS(120, parts), gold, CorpusGen.gazetteer, out)
      spark.read.parquet(out).select(TripleCols.map(col): _*)
        .collect().map(rowKey).sorted.toSeq
    }
    val one = committed(1)
    assert(one.nonEmpty)
    assert(committed(8) === one)
  }
}

object PageKernelSpec {
  val TripleCols: Seq[String] =
    Seq("subj", "pred", "obj", "url", "begin", "end", "profileId", "score", "provenance")

  def rowKey(r: Row): String = r.toSeq.mkString("\u0001")

  def sorted(ts: Seq[Triple]): Seq[Triple] = ts.sortBy(_.productIterator.mkString("\u0001"))

  /** Pages concatenating the bodies of 2..12 consecutive CorpusGen pages, one body in
    * three upper-cased (all-caps sentences skip the pattern passes, not the
    * dictionary pass). */
  lazy val ManyBodied: Seq[Page] = {
    val body = "(?s)<p>(.*)</p>".r
    val bodies = CorpusGen.pages(140).zipWithIndex.map { case (gp, i) =>
      val b = body.findFirstMatchIn(new String(gp.page.html, "UTF-8")).get.group(1)
      if (i % 3 == 1) b.toUpperCase else b
    }
    Iterator.from(2).map(n => 2 + n % 11).scanLeft((0, 0)) { case ((_, end), n) =>
        (end, end + n) }.drop(1).takeWhile(_._2 <= bodies.size).zipWithIndex
      .map { case ((from, until), i) =>
        val html = bodies.slice(from, until).map(b => s"<p>$b</p>")
          .mkString("<html><body>", "", "</body></html>")
        Page(s"https://many${i % 3}.example.org/page/$i",
          java.sql.Timestamp.valueOf("2025-01-01 00:00:00"), html.getBytes("UTF-8"),
          null, "en")
      }.toSeq
  }
}
