package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.{Annotation, Page, Triple}
import graft.pipeline.KGPipeline
import graft.testgen.CorpusGen

/**
 * End-to-end gate (SURVEY.md §5): synthetic seeded corpus → full pipeline →
 * emitted triples vs gold-by-construction; P ≥ 0.95 ∧ R ≥ 0.95 required.
 */
class PipelineSpec extends AnyFunSuite with SparkTest {

  test("e2e: learn patterns on gold slice, extract everywhere, P/R >= 0.95") {
    import spark.implicits._
    val all = CorpusGen.pages(80)
    val train = all.take(30)

    val pages = spark.createDataset(all.map(_.page))
    val goldAnnots = spark.createDataset(train.flatMap(CorpusGen.goldAnnotations))

    val r = KGPipeline.run(pages, goldAnnots, CorpusGen.gazetteer)(spark)

    // a dictionary triple has profileId -2: any other comes from a pattern
    val patternTriples = all.flatMap(gp => graft.nlp.Annotate.pageText(gp.page).toSeq
      .flatMap(r.kernel.extract(gp.page.url, _))).count(_.profileId != -2L)
    assert(patternTriples > 0, "no patterns survived the precision gate")

    val goldTriples = all.flatMap(_.gold).map(t => (t.subj, t.pred, t.obj)).toSet
    val got = r.canonical.collect().map(t => (t.subj, t.pred, t.obj)).toSet

    val tp = got.intersect(goldTriples).size.toDouble
    val prec = if (got.isEmpty) 0.0 else tp / got.size
    val rec = tp / goldTriples.size
    info(f"pattern triples=$patternTriples got=${got.size} gold=${goldTriples.size} " +
      f"P=$prec%.3f R=$rec%.3f")
    assert(prec >= 0.95, f"precision $prec%.3f below gate; sample extra: " +
      got.diff(goldTriples).take(5).mkString("; "))
    assert(rec >= 0.95, f"recall $rec%.3f below gate; sample missing: " +
      goldTriples.diff(got).take(5).mkString("; "))
  }

  test("e2e + propagation: gold flows to near-dup pages and feeds learning; gate holds") {
    import spark.implicits._
    val all = CorpusGen.pages(50)
    val train = all.take(15)
    // mirror pages: near-duplicate documents of the training slice with NO gold of
    // their own — the reference's dupFlag scenario (AnnotateDuplicate)
    val mirrors = train.map(gp => gp.page.copy(url = gp.page.url + "?mirror"))
    val pages = spark.createDataset(all.map(_.page) ++ mirrors)
    val goldAnnots = spark.createDataset(train.flatMap(CorpusGen.goldAnnotations))

    val enlarged = KGPipeline.propagateGold(pages, goldAnnots, CorpusGen.gazetteer)(spark)
    val n0 = goldAnnots.count(); val n1 = enlarged.count()
    assert(n1 > n0, s"nothing propagated ($n0 -> $n1)")
    assert(enlarged.filter(_.url.endsWith("?mirror")).count() > 0,
      "no span landed on a mirror page")

    // propagated spans (provenance dup-propagated) must actually feed learning
    val r = KGPipeline.run(pages, enlarged, CorpusGen.gazetteer)(spark)
    val goldTriples = all.flatMap(_.gold).map(t => (t.subj, t.pred, t.obj)).toSet
    val got = r.canonical.collect().map(t => (t.subj, t.pred, t.obj)).toSet
    val tp = got.intersect(goldTriples).size.toDouble
    val prec = if (got.isEmpty) 0.0 else tp / got.size
    val rec = tp / goldTriples.size
    info(f"propagated=${n1 - n0} P=$prec%.3f R=$rec%.3f")
    assert(prec >= 0.95 && rec >= 0.95, f"gate failed with propagation: P=$prec%.3f R=$rec%.3f")
  }

  test("runAndWrite and runCheckpointed commit the same facts") {
    import spark.implicits._
    val all = CorpusGen.pages(80)
    val pages = spark.createDataset(all.map(_.page))
    val goldAnnots = spark.createDataset(all.take(30).flatMap(CorpusGen.goldAnnotations))
    val dir = java.nio.file.Files.createTempDirectory("graft_parity").toString
    def facts(path: String): Set[(String, String, String)] =
      spark.read.parquet(path).select("subj", "pred", "obj").as[(String, String, String)]
        .collect().toSet
    KGPipeline.runAndWrite(pages, goldAnnots, CorpusGen.gazetteer, s"$dir/plain")(spark)
    KGPipeline.runCheckpointed(pages, goldAnnots, CorpusGen.gazetteer, s"$dir/stages",
      "parity-80-v1", s"$dir/checkpointed")(spark)
    val plain = facts(s"$dir/plain")
    assert(plain.nonEmpty)
    assert(facts(s"$dir/checkpointed") === plain)
  }

  test("byte-identity: per-url normalized text hashes are frozen (golden)") {
    val p = CorpusGen.pages(3)
    val hashes = p.map(gp => graft.ingest.Normalize.sha256(
      graft.ingest.HtmlText.extractNormalized(gp.page.html).get))
    val expected = PipelineSpec.GoldenHashes
    if (expected.head == "PIN_ME") info("PIN: " + hashes.mkString(","))
    else assert(hashes === expected,
      "html→text→normalize output changed — the frozen byte-identity invariant broke")
  }
}

object PipelineSpec {
  /** Frozen per-url SHA-256 of the normalized text of CorpusGen.pages(3). */
  val GoldenHashes: Vector[String] = Vector(
    "19b2c255335ccdecf38fc61728e6af29eadb532e0801082409e2e026df25bda9",
    "fc93db18aa96f4cbe9831e7386439027d3a9def10e9ec132986a1e0f61aec124",
    "1608caeaa970670e1b68645b71078628c66571b43540783a5621cb3abdde8b1f")
}
