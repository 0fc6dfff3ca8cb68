package graft

import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{Annotation, Page}
import graft.testgen.CorpusGen

/** StageCheckpoint semantics + end-to-end resumable pipeline. */
class ResumeSpec extends AnyFunSuite with SparkTest {

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_resume").toString

  test("materialize computes once per fingerprint, recomputes on change") {
    import spark.implicits._
    val cp = graft.runtime.StageCheckpoint(tmp())
    var computed = 0
    def stage = { computed += 1; Seq((1, "a"), (2, "b")).toDF("k", "v") }
    val r1 = cp.materialize("s1", "fp-A")(stage)
    assert(r1.count() === 2 && computed === 1)
    val r2 = cp.materialize("s1", "fp-A")(stage)
    assert(r2.count() === 2 && computed === 1, "same fingerprint must not recompute")
    assert(cp.wouldResume("s1", "fp-A") && !cp.wouldResume("s1", "fp-B"))
    cp.materialize("s1", "fp-B")(stage)
    assert(computed === 2, "changed fingerprint must recompute")
    val lin = cp.lineage("s1").getOrElse(fail("s1 has no commit record"))
    // the record carries the rows its write counted, the fingerprint and a wall-clock
    assert(lin.rowsTotal === 2L && lin.fingerprint === "fp-B" && lin.stage === "s1")
    assert(lin.wallMs >= 0L)
    assert(lin.schema.fieldNames.toSeq === Seq("k", "v"))
  }

  test("a fresh materialize starts at most 1 Spark job; a resumed one starts none") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val cp = graft.runtime.StageCheckpoint(tmp())
    // a narrow 4-partition input: its write is the one job the stage itself needs
    val data = spark.range(0, 500, 1, 4)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))
    val (_, fresh) = SparkTestBase.jobsStarted("stage-fresh") {
      cp.materialize("s1", "fp-A")(data)
    }
    assert(fresh <= 1, s"a fresh materialize started $fresh Spark jobs")
    val (resumed, again) = SparkTestBase.jobsStarted("stage-resumed") {
      cp.materialize("s1", "fp-A")(sys.error("a resumed stage must not recompute"))
    }
    assert(again === 0, s"a resumed materialize started $again Spark jobs")
    assert(cp.lineage("s1").map(_.rowsTotal) === Some(500L))
    assert(resumed.count() === 500)
  }

  test("a file: URI base commits and resumes, and creates nothing under the working " +
      "directory") {
    import spark.implicits._
    def cwd() = new java.io.File(".").getCanonicalFile.list().toSet
    val before = cwd()
    val base = s"file:${tmp()}/stages"
    var computed = 0
    def stage = { computed += 1; Seq((1, "a"), (2, "b")).toDF("k", "v") }
    assert(graft.runtime.StageCheckpoint(base).materialize("s1", "fp-A")(stage)
      .count() === 2)
    val cp = graft.runtime.StageCheckpoint(base)
    assert(cp.materialize("s1", "fp-A")(stage).count() === 2 && computed === 1,
      "the file: base must resume")
    assert(cwd() === before, s"new entries under the working directory: ${cwd() -- before}")
  }

  test("an EMPTY stage output still commits its fingerprint and resumes") {
    import spark.implicits._
    val cp = graft.runtime.StageCheckpoint(tmp())
    var computed = 0
    def stage = { computed += 1; Seq.empty[(Int, String)].toDF("k", "v") }
    val r1 = cp.materialize("s_empty", "fp-A")(stage)
    assert(r1.count() === 0 && computed === 1)
    // an empty stage's record must read back, or every resume recomputes the stage
    // and everything downstream
    val r2 = cp.materialize("s_empty", "fp-A")(stage)
    assert(computed === 1, "empty stage must resume, not recompute")
    assert(r2.count() === 0 && r2.columns.toSeq == Seq("k", "v"))
    val lin = cp.lineage("s_empty").getOrElse(fail("s_empty has no commit record"))
    assert(lin.rowsTotal === 0L && lin.fingerprint === "fp-A")
  }

  test("a committed stage whose data directory is gone recomputes") {
    import spark.implicits._
    val base = tmp()
    val cp = graft.runtime.StageCheckpoint(base)
    var computed = 0
    def stage = { computed += 1; Seq((1, "a"), (2, "b")).toDF("k", "v") }
    cp.materialize("s1", "fp-A")(stage)
    // the data goes, its lineage stays: the lineage is trusted only as far as the
    // data it describes
    def rmTree(d: java.io.File): Unit = {
      Option(d.listFiles()).foreach(_.foreach(rmTree)); d.delete()
    }
    rmTree(new java.io.File(s"$base/s1"))
    assert(new java.io.File(s"$base/s1__lineage").exists())
    assert(!cp.wouldResume("s1", "fp-A"))
    val r = cp.materialize("s1", "fp-A")(stage)
    assert(computed === 2, "fp-A must recompute over its vanished data")
    assert(r.as[(Int, String)].collect().sorted.toSeq === Seq((1, "a"), (2, "b")))
    assert(cp.wouldResume("s1", "fp-A"))
  }

  test("lineage: absent record reads as None; corrupt record propagates") {
    val cp = graft.runtime.StageCheckpoint(tmp())
    assert(cp.lineage("never_ran").isEmpty)
    // a lineage dir with a corrupt commit record is NOT the legitimate empty state —
    // the read failure must propagate, not silently force a recompute
    val base = tmp()
    val cp2 = graft.runtime.StageCheckpoint(base)
    val linDir = java.nio.file.Paths.get(base, "s9__lineage")
    java.nio.file.Files.createDirectories(linDir)
    java.nio.file.Files.write(linDir.resolve("_COMMITTED"), "not a record".getBytes)
    assertThrows[Exception](cp2.lineage("s9"))
    assertThrows[Exception](cp2.wouldResume("s9", "fp-A"))
  }

  test("a crashed rewrite under a new fingerprint leaves the stage to recompute") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, udf}
    val cp = graft.runtime.StageCheckpoint(tmp())
    var computed = 0
    def stage = { computed += 1; Seq((1L, "a"), (2L, "b")).toDF("k", "v") }
    cp.materialize("s1", "fp-A")(stage)
    // the fp-B rewrite throws inside its write job, after the overwrite deleted fp-A's
    // data (a range input, so the optimizer cannot fold the throwing UDF away)
    val crash = udf { (i: Long) =>
      if (i == 3L) throw new IllegalStateException("crash mid-write") else i }
    intercept[Exception](cp.materialize("s1", "fp-B")(
      spark.range(0, 4, 1, 2).select(crash($"id").as("k"), lit("x").as("v"))))
    val r = cp.materialize("s1", "fp-A")(stage)
    assert(computed === 2, "fp-A must recompute over the crashed rewrite")
    assert(r.as[(Long, String)].collect().sorted.toSeq === Seq((1L, "a"), (2L, "b")))
    assert(cp.wouldResume("s1", "fp-A"))
  }

  private def rmrf(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.isDirectory) f.listFiles().foreach(c => rmrf(c.getPath))
    f.delete()
  }

  private def facts(outDir: String): Set[(String, String, String)] = {
    import spark.implicits._
    spark.read.parquet(outDir).select("subj", "pred", "obj").as[(String, String, String)]
      .collect().toSet
  }

  /** `pages` and `gold` as Datasets that throw on any read of a row. */
  private def unreadable(pages: Dataset[Page], gold: Dataset[Annotation]) = {
    import spark.implicits._
    (pages.map[Page](p => throw new IllegalStateException(s"read page ${p.url}")),
      gold.map[Annotation](a => throw new IllegalStateException(s"read gold of ${a.url}")))
  }

  /** A corpus of `n` CorpusGen pages with the gold of its first 30. */
  private def corpus(n: Int) = {
    import spark.implicits._
    val gen = CorpusGen.pages(n)
    (spark.createDataset(gen.map(_.page)),
      spark.createDataset(gen.take(30).flatMap(CorpusGen.goldAnnotations)))
  }

  test("runCheckpointed: a crash inside the corpus pass re-learns and commits the " +
      "same facts") {
    val (stageDir, outDir) = (tmp(), tmp() + "/triples")
    val (pages, gold) = corpus(60)
    val fp = "corpus-60-v1"

    val cps = graft.pipeline.KGPipeline.runCheckpointed(
      pages, gold, CorpusGen.gazetteer, stageDir, fp, outDir)
    val total = spark.read.parquet(outDir).count()
    val first = facts(outDir)
    assert(total > 0 && cps.count() > 0)
    assert(new java.io.File(stageDir).list().toSet === Set("raw_triples",
      "raw_triples__lineage"), "the stage dir must hold exactly raw_triples and its lineage")

    // simulate a crash inside the corpus pass: no stage and no output committed, so the
    // resumed run learns again and re-runs the pass
    rmrf(s"$stageDir/raw_triples"); rmrf(s"$stageDir/raw_triples__lineage")
    rmrf(outDir); rmrf(outDir + "_checkpoints")

    graft.pipeline.KGPipeline.runCheckpointed(
      pages, gold, CorpusGen.gazetteer, stageDir, fp, outDir)
    assert(spark.read.parquet(outDir).count() === total,
      "resumed run must reproduce the identical output")
    assert(facts(outDir) === first, "resumed run must commit the same facts")
  }

  test("runCheckpointed: crash after stage 1 resumes without recomputing annotations") {
    val (stageDir, outDir) = (tmp(), tmp() + "/triples")
    val (pages, gold) = corpus(60)
    val fp = "corpus-60-v1"

    val cps = graft.pipeline.KGPipeline.runCheckpointed(
      pages, gold, CorpusGen.gazetteer, stageDir, fp, outDir)
    val total = spark.read.parquet(outDir).count()
    val first = facts(outDir)
    assert(total > 0 && cps.count() > 0)

    // simulate a crash AFTER stage 1, the checkpointed extraction (raw_triples), but
    // before stage 2 commits the output: delete the final output, keep the stage
    // checkpoint. The annotated corpus lives only inside raw_triples.
    rmrf(outDir); rmrf(outDir + "_checkpoints")

    def written(stage: String) = {
      val dir = new java.io.File(s"$stageDir/$stage")
      (dir.lastModified(), dir.list().toSet)
    }
    val stages = Seq("raw_triples", "raw_triples__lineage").map(s => s -> written(s))
    // any page or gold read throws: the resumed run may annotate neither the corpus
    // nor the training slice, and learns nothing
    val (noPages, noGold) = unreadable(pages, gold)
    graft.pipeline.KGPipeline.runCheckpointed(
      noPages, noGold, CorpusGen.gazetteer, stageDir, fp, outDir)
    stages.foreach { case (s, w) =>
      assert(written(s) === w, s"$s stage was recomputed on resume") }
    assert(spark.read.parquet(outDir).count() === total,
      "resumed run must reproduce the identical output")
    assert(facts(outDir) === first, "resumed run must commit the same facts")
  }

  test("runCheckpointed: a re-submission over a committed output reads nothing and " +
      "starts no Spark job") {
    val (stageDir, outDir) = (tmp(), tmp() + "/triples")
    val (pages, gold) = corpus(60)
    val fp = "corpus-60-v1"
    val first = graft.pipeline.KGPipeline.runCheckpointed(
      pages, gold, CorpusGen.gazetteer, stageDir, fp, outDir).collect().toSet
    assert(first.nonEmpty)

    val (noPages, noGold) = unreadable(pages, gold)
    // the returned lineage is a local relation: collecting it starts no job either
    val (again, jobs) = SparkTestBase.jobsStarted("resume-committed") {
      graft.pipeline.KGPipeline.runCheckpointed(
        noPages, noGold, CorpusGen.gazetteer, stageDir, fp, outDir).collect().toSet
    }
    assert(jobs === 0, s"a committed re-submission started $jobs Spark jobs")
    assert(again === first, "the lineage rows must be the first run's")
  }

  test("runCheckpointed: a committed re-submission and the read of its counters start " +
      "no Spark job and report the fresh run's counters") {
    val (stageDir, outDir) = (tmp(), tmp() + "/triples")
    val (pages, gold) = corpus(60)
    val fp = "corpus-60-v1"
    graft.pipeline.KGPipeline.runCheckpointed(
      pages, gold, CorpusGen.gazetteer, stageDir, fp, outDir)
    val fresh = graft.sink.Materialize.record(outDir).getOrElse(fail("no commit record"))
    assert(fresh.triples === spark.read.parquet(outDir).count())
    assert(fresh.subjectsApprox > 0L && fresh.docsApprox > 0L)

    val (noPages, noGold) = unreadable(pages, gold)
    val (again, jobs) = SparkTestBase.jobsStarted("resume-counters") {
      graft.pipeline.KGPipeline.runCheckpointed(
        noPages, noGold, CorpusGen.gazetteer, stageDir, fp, outDir)
      graft.sink.Materialize.record(outDir)
    }
    assert(jobs === 0, s"a committed re-submission and its counters started $jobs jobs")
    assert(again === Some(fresh), "the re-submission must report the fresh run's counters")
  }

  test("runCheckpointed: a bucket partition deleted after completion is rewritten on " +
      "re-submission") {
    val (stageDir, outDir) = (tmp(), tmp() + "/triples")
    val (pages, gold) = corpus(60)
    val fp = "corpus-60-v1"
    def completed(lineage: org.apache.spark.sql.DataFrame) =
      lineage.collect().map(r => r.getInt(0) -> r.getTimestamp(4)).toMap
    val firstAt = completed(graft.pipeline.KGPipeline.runCheckpointed(
      pages, gold, CorpusGen.gazetteer, stageDir, fp, outDir))
    val first = facts(outDir)
    val victim = new java.io.File(outDir).list().filter(_.startsWith("bucket=")).min
    rmrf(s"$outDir/$victim")
    assert(facts(outDir) !== first)

    val at = completed(graft.pipeline.KGPipeline.runCheckpointed(
      pages, gold, CorpusGen.gazetteer, stageDir, fp, outDir))
    assert(new java.io.File(s"$outDir/$victim").isDirectory, s"$victim was not rewritten")
    assert(facts(outDir) === first, "the re-submission must commit the first run's facts")
    // the record is trusted whole or not at all: the re-submission replaces the table
    assert(at.keySet === firstAt.keySet)
    assert(at.forall { case (b, t) => t.after(firstAt(b)) }, s"$firstAt -> $at")
  }

  test("runCheckpointed: a re-submission under a new fingerprint commits only its own " +
      "facts") {
    val (stageDir, outDir) = (tmp(), tmp() + "/triples")
    val (pages60, gold60) = corpus(60)
    val (pages160, gold160) = corpus(160)
    graft.pipeline.KGPipeline.runCheckpointed(
      pages60, gold60, CorpusGen.gazetteer, stageDir, "fp-60", outDir)
    graft.pipeline.KGPipeline.runCheckpointed(
      pages160, gold160, CorpusGen.gazetteer, stageDir, "fp-160", outDir)

    val fullOut = tmp() + "/full"
    graft.pipeline.KGPipeline.runAndWrite(pages160, gold160, CorpusGen.gazetteer, fullOut)
    val want = facts(fullOut)
    assert(want.nonEmpty)
    assert(facts(outDir) === want, "facts committed under fp-60 survived the fp-160 run")
  }
}
