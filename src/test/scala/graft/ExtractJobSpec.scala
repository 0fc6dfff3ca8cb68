package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.PageKernel
import graft.model.Page
import graft.nlp.Annotate
import graft.pipeline.{ExtractJob, KGPipeline}
import graft.testgen.CorpusGen

/**
 * The scaling gate's invariant, on the job it times: `ExtractJob` with a kernel
 * learned by `KGPipeline.run` writes the same mention-level triples, and the same
 * (count, hash), whatever the input partitioning; and those rows are exactly the
 * kernel's own output per page, deduped on the mention site.
 */
class ExtractJobSpec extends AnyFunSuite with SparkTest {
  import PageKernelSpec.{TripleCols, rowKey}

  /** 120 CorpusGen pages, every third one with its body twice: the same facts at two
    * mention sites of one page. */
  private val pages: Seq[Page] = CorpusGen.pages(120).zipWithIndex.map { case (gp, i) =>
    if (i % 3 != 0) gp.page
    else gp.page.copy(html = new String(gp.page.html, UTF_8)
      .replaceFirst("(?s)(<p>.*</p>)", "$1$1").getBytes(UTF_8))
  }

  private lazy val kernel: PageKernel = {
    import spark.implicits._
    val train = CorpusGen.pages(30)
    KGPipeline.run(spark.createDataset(train.map(_.page)),
      spark.createDataset(train.flatMap(CorpusGen.goldAnnotations)),
      CorpusGen.gazetteer).kernel
  }

  private def run(partitions: Int): (ExtractJob.Result, String) = {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_extract_job").resolve("out").toString
    (ExtractJob.run(spark.createDataset(pages).repartition(partitions), kernel, out), out)
  }

  test("ExtractJob: the same (nTriples, outputHash) at 1 and 4 input partitions") {
    val (one, _) = run(1)
    val (four, _) = run(4)
    assert(one.nTriples > 0)
    assert(four === one)
  }

  test("ExtractJob rows == the kernel's triples per page, deduped on the mention site") {
    val (result, out) = run(4)
    val got = spark.read.parquet(out).select(TripleCols.map(col): _*)
      .collect().map(rowKey).sorted.toSeq
    val want = pages.flatMap { p =>
      Annotate.pageText(p).toSeq.flatMap(kernel.extract(p.url, _))
        .groupBy(t => (t.subj, t.pred, t.obj, t.begin)).values.map(_.head)
    }.map(t => t.productIterator.mkString("\u0001")).sorted
    assert(want.nonEmpty)
    assert(got === want)
    assert(result.nTriples === want.size)
  }
}
