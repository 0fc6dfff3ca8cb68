package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

import graft.testgen.CorpusGen

/**
 * Seeded input generator. Writes one workload's corpus to parquet:
 *
 *  - `pages/`      the `Dataset[Page]` the job reads (16 files, generation order);
 *  - `gold/`       gold target-span annotations of the 200-page training slice;
 *  - `facts/`      gold facts, distinct `(subj, pred, obj)`, for the P/R check;
 *  - `meta.json`   page, body and text-byte counts.
 *
 * Runs in its own JVM without a SparkSession (plain parquet-mr writers), so no part
 * of generation warms the JVM that is measured. The same (workload, seed) always
 * yields byte-identical rows.
 *
 * A page with several bodies concatenates the `<p>` bodies of consecutive CorpusGen
 * pages; its gold facts are the union of theirs.
 *
 * Usage: perfbench.Gen <workload> <seed> <outDir>
 */
object Gen {
  val Files16 = 16

  private val PageSchema = MessageTypeParser.parseMessageType(
    """message page {
      |  optional binary url (STRING);
      |  optional int64 warc_ts (TIMESTAMP(MICROS,true));
      |  optional binary html;
      |  optional binary text (STRING);
      |  optional binary lang (STRING);
      |}""".stripMargin)

  private val GoldSchema = MessageTypeParser.parseMessageType(
    """message gold {
      |  optional binary url (STRING);
      |  optional int32 annotId;
      |  optional binary annotType (STRING);
      |  optional int32 begin;
      |  optional int32 end;
      |  optional binary value (STRING);
      |  optional binary provenance (STRING);
      |  optional double score;
      |}""".stripMargin)

  private val FactSchema = MessageTypeParser.parseMessageType(
    """message fact {
      |  optional binary subj (STRING);
      |  optional binary pred (STRING);
      |  optional binary obj (STRING);
      |}""".stripMargin)

  final case class GenPage(url: String, html: Array[Byte], facts: Seq[(String, String, String)])

  /** The `<p>` body CorpusGen wraps into page i's html. */
  def body(gp: CorpusGen.GenPage): String = {
    val html = new String(gp.page.html, UTF_8)
    html.substring(html.indexOf("<body><p>") + "<body><p>".length,
      html.lastIndexOf("</p></body>"))
  }

  /** The corpus of one workload: the training slice, then its extraction pages. */
  def corpus(w: Workload, seed: Long): (Vector[CorpusGen.GenPage], Vector[GenPage]) = {
    def facts(gp: CorpusGen.GenPage) = gp.gold.map(t => (t.subj, t.pred, t.obj))
    val train = CorpusGen.pages(Workloads.TrainPages, seed)
    // page sizes: the same multiset for every seed (bodiesPerPageMin, then steps of
    // min up to max, repeated), in a seeded order, so that the seed changes the text
    // but not how much work the pages hold
    val sizes = {
      val cycle = (w.bodiesPerPageMin to w.bodiesPerPageMax by w.bodiesPerPageMin).toVector
      val ordered = Iterator.continually(cycle).flatten.scanLeft(0)(_ + _)
        .takeWhile(_ < w.bodies).toVector.sliding(2).map(p => p(1) - p(0)).toVector
      val shuffled = new scala.util.Random(seed).shuffle(ordered)
      shuffled.scanLeft(0)(_ + _) :+ w.bodies
    }
    val rest = sizes.sliding(2).zipWithIndex.map { case (Seq(from, until), j) =>
      val gps = (from until until).map(k => CorpusGen.gen1(Workloads.TrainPages + k, seed))
      if (gps.size == 1) GenPage(gps.head.page.url, gps.head.page.html, facts(gps.head))
      else {
        val html = s"<html><head><title>Digest $j</title></head><body>" +
          gps.map(gp => s"<p>${body(gp)}</p>").mkString + "</body></html>"
        GenPage(s"https://digest${j % 50}.example.net/issue/$j",
          html.getBytes(UTF_8), gps.flatMap(facts))
      }
    }.toVector
    (train, train.map(gp => GenPage(gp.page.url, gp.page.html, facts(gp))) ++ rest)
  }

  private def writer(file: Path, schema: MessageType): ParquetWriter[Group] =
    ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withType(schema)
      .withConf(new Configuration())
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()

  private def writeAll(dir: Path, schema: MessageType, nFiles: Int, n: Int)(
      fill: (Int, Group) => Unit): Unit = {
    Files.createDirectories(dir)
    val f = new SimpleGroupFactory(schema)
    (0 until nFiles).foreach { part =>
      val w = writer(dir.resolve(f"part-$part%05d.parquet"), schema)
      try (part * n / nFiles until (part + 1) * n / nFiles).foreach { i =>
        val g = f.newGroup(); fill(i, g); w.write(g)
      } finally w.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedArg, outArg) = args
    val (w, seed, out) = (Workloads(name), seedArg.toLong, Paths.get(outArg))
    val (train, pages) = corpus(w, seed)
    // 2025-01-01T00:00:00Z, the timestamp CorpusGen stamps on every page
    val warcMicros = 1735689600L * 1000000L
    writeAll(out.resolve("pages"), PageSchema, Files16, pages.size) { (i, g) =>
      val p = pages(i)
      g.add("url", p.url); g.add("warc_ts", warcMicros)
      g.add("html", org.apache.parquet.io.api.Binary.fromConstantByteArray(p.html))
      g.add("lang", "en")
    }
    val gold = train.flatMap(CorpusGen.goldAnnotations)
    writeAll(out.resolve("gold"), GoldSchema, 1, gold.size) { (i, g) =>
      val a = gold(i)
      g.add("url", a.url); g.add("annotId", a.annotId); g.add("annotType", a.annotType)
      g.add("begin", a.begin); g.add("end", a.end); g.add("value", a.value)
      g.add("provenance", a.provenance); g.add("score", a.score)
    }
    val facts = pages.flatMap(_.facts).distinct.sorted
    writeAll(out.resolve("facts"), FactSchema, 1, facts.size) { (i, g) =>
      g.add("subj", facts(i)._1); g.add("pred", facts(i)._2); g.add("obj", facts(i)._3)
    }
    val textBytes = pages.map(p => graft.ingest.HtmlText.extractNormalized(p.html)
      .fold(0L)(_.getBytes(UTF_8).length.toLong)).sum
    Files.write(out.resolve("meta.json"), (
      s"""{"workload":"${w.name}","seed":$seed,"pages":${pages.size},""" +
      s""""bodies":${Workloads.TrainPages + w.bodies},"text_bytes":$textBytes,""" +
      s""""gold_facts":${facts.size}}""").getBytes(UTF_8))
  }
}
