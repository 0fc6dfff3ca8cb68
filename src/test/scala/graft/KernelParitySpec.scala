package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.PageKernel
import graft.mention.Sentences
import graft.model.Page
import graft.nlp.Annotate
import graft.testgen.CorpusGen

/**
 * The page kernel's token scan against the annotation path on CorpusGen pages, one
 * body per page and 8–64 bodies packed per page: per sentence (chunks on and off) the
 * bounds, grid columns, `lookupSpans`, all-caps decision, token stream and entity
 * candidates, and per page the raw triples of `extract` and of `apply` over the
 * annotation path, for the learned model's kernel and for kernels with and without a
 * syntax pattern.
 */
class KernelParitySpec extends AnyFunSuite with SparkTest {
  import KernelParitySpec._

  private def texts(pages: Seq[Page]): Seq[(String, String)] =
    pages.flatMap(p => Annotate.pageText(p).map(t => (p.url, t)))

  private def assertParity(pages: Seq[(String, String)]): Unit = {
    val gaz = CorpusGen.gazetteer
    val model = LearnedModel.model
    val kernels = Seq((model.kernel, model.withChunks),
      (KernelParity.kernel(withSyntax = false), false),
      (KernelParity.kernel(withSyntax = true), true))
    var triples = 0
    pages.foreach { case (url, text) =>
      Seq(false, true).foreach { withChunks =>
        val diffs = KernelParity.diff(PageKernel.scan(url, text, gaz, withChunks),
          KernelParity.oracle(url, text, gaz, withChunks))
        assert(diffs.isEmpty, s"$url (chunks $withChunks): ${diffs.take(5).mkString("; ")}")
      }
      kernels.foreach { case (k, withChunks) =>
        val got = k.extract(url, text)
        assert(got === k(url, Sentences.group(url,
          Annotate.annotateOne(url, text, gaz, withChunks))), url)
        triples += got.size
      }
    }
    assert(triples > 0)
  }

  test("scan == annotation path on plain CorpusGen pages") {
    assertParity(texts(CorpusGen.pages(60, seed = 7L).map(_.page)))
  }

  test("scan == annotation path on pages packing 8 to 64 bodies") {
    val packed = texts(Packed)
    assert(packed.size >= 8 && packed.exists(_._2.length > 8000))
    assertParity(packed)
  }
}

object KernelParitySpec {
  /** Pages concatenating 8, 16, …, 64 consecutive CorpusGen bodies, every third body
    * upper-cased (an all-caps sentence). */
  lazy val Packed: Seq[Page] = {
    val body = "(?s)<p>(.*)</p>".r
    val bodies = CorpusGen.pages(600, seed = 11L).zipWithIndex.map { case (gp, i) =>
      val b = body.findFirstMatchIn(new String(gp.page.html, "UTF-8")).get.group(1)
      if (i % 3 == 1) b.toUpperCase else b
    }
    val sizes = Iterator.iterate(0)(_ + 1).map(i => 8 * (1 + i % 8))
    sizes.scanLeft((0, 0)) { case ((_, end), n) => (end, end + n) }.drop(1)
      .takeWhile(_._2 <= bodies.size).zipWithIndex.map { case ((from, until), i) =>
        val html = bodies.slice(from, until).map(b => s"<p>$b</p>")
          .mkString("<html><body>", "", "</body></html>")
        Page(s"https://packed.example.org/page/$i",
          java.sql.Timestamp.valueOf("2025-01-01 00:00:00"), html.getBytes("UTF-8"), null,
          "en")
      }.toSeq
  }
}
