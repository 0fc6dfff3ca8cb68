package graft

import org.scalatest.funsuite.AnyFunSuite
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
    val lin = cp.lineage("s1").collect()
    assert(lin.map(_.getAs[Long]("rows")).sum === 2)
    assert(lin.forall(_.getAs[String]("fingerprint") == "fp-B"))
    // stage counters: every lineage row carries the stage total and a wall-clock
    assert(lin.forall(_.getAs[Long]("rows_total") === 2L))
    assert(lin.forall(_.getAs[Long]("wall_ms") >= 0L))
  }

  test("an EMPTY stage output still commits its fingerprint and resumes") {
    import spark.implicits._
    val cp = graft.runtime.StageCheckpoint(tmp())
    var computed = 0
    def stage = { computed += 1; Seq.empty[(Int, String)].toDF("k", "v") }
    val r1 = cp.materialize("s_empty", "fp-A")(stage)
    assert(r1.count() === 0 && computed === 1)
    // without the sentinel lineage row, an empty stage's fingerprint never reads back
    // and every resume recomputes the stage and everything downstream
    val r2 = cp.materialize("s_empty", "fp-A")(stage)
    assert(computed === 1, "empty stage must resume, not recompute")
    assert(r2.count() === 0 && r2.columns.toSeq == Seq("k", "v"))
    val lin = cp.lineage("s_empty").collect()
    assert(lin.length === 1 && lin.head.getAs[Long]("rows_total") === 0L)
  }

  test("committedFingerprint: absent lineage reads as None; corrupt lineage propagates") {
    val cp = graft.runtime.StageCheckpoint(tmp())
    assert(cp.committedFingerprint("never_ran").isEmpty)
    // a lineage dir with a corrupt parquet file is NOT the legitimate empty state —
    // the read failure must propagate, not silently force a recompute
    val base = tmp()
    val cp2 = graft.runtime.StageCheckpoint(base)
    val linDir = java.nio.file.Paths.get(base, "s9__lineage")
    java.nio.file.Files.createDirectories(linDir)
    java.nio.file.Files.write(linDir.resolve("part-00000.parquet"),
      "not a parquet file".getBytes)
    assertThrows[Exception](cp2.committedFingerprint("s9"))
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

  test("runCheckpointed: a crash after the learning stages resumes them and commits " +
      "the same facts") {
    import spark.implicits._
    val (stageDir, outDir) = (tmp(), tmp() + "/triples")
    val gen = CorpusGen.pages(60)
    val pages = spark.createDataset(gen.map(_.page))
    val gold = spark.createDataset(gen.take(30).flatMap(CorpusGen.goldAnnotations))
    val fp = "corpus-60-v1"
    def facts(): Set[(String, String, String)] =
      spark.read.parquet(outDir).select("subj", "pred", "obj").as[(String, String, String)]
        .collect().toSet

    val cps = graft.pipeline.KGPipeline.runCheckpointed(
      pages, gold, CorpusGen.gazetteer, stageDir, fp, outDir)
    val total = spark.read.parquet(outDir).count()
    val first = facts()
    assert(total > 0 && cps.count() > 0)
    val stages = Seq("patterns", "pair_stats", "raw_triples")
    assert(new java.io.File(stageDir).list().toSet ===
      stages.flatMap(s => Seq(s, s + "__lineage")).toSet,
      "the stage dir must hold exactly the three stages and their lineage")

    // simulate a crash AFTER patterns + pair_stats but before triples: delete the
    // raw_triples stage and the final output, keep the learning stages' checkpoints
    def rmrf(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.isDirectory) f.listFiles().foreach(c => rmrf(c.getPath))
      f.delete()
    }
    rmrf(s"$stageDir/raw_triples"); rmrf(s"$stageDir/raw_triples__lineage")
    rmrf(outDir); rmrf(outDir + "_checkpoints")

    def written(stage: String) = {
      val dir = new java.io.File(s"$stageDir/$stage")
      (dir.lastModified(), dir.list().toSet)
    }
    val learned = Seq("patterns", "pair_stats").map(s => s -> written(s))
    graft.pipeline.KGPipeline.runCheckpointed(
      pages, gold, CorpusGen.gazetteer, stageDir, fp, outDir)
    learned.foreach { case (s, w) =>
      assert(written(s) === w, s"$s stage was rewritten on resume") }
    assert(spark.read.parquet(outDir).count() === total,
      "resumed run must reproduce the identical output")
    assert(facts() === first, "resumed run must commit the same facts")
  }

  test("runCheckpointed: crash after stage 1 resumes without recomputing annotations") {
    import spark.implicits._
    val (stageDir, outDir) = (tmp(), tmp() + "/triples")
    val gen = CorpusGen.pages(60)
    val pages = spark.createDataset(gen.map(_.page))
    val gold = spark.createDataset(gen.take(30).flatMap(CorpusGen.goldAnnotations))
    val fp = "corpus-60-v1"
    def facts(): Set[(String, String, String)] =
      spark.read.parquet(outDir).select("subj", "pred", "obj").as[(String, String, String)]
        .collect().toSet

    val cps = graft.pipeline.KGPipeline.runCheckpointed(
      pages, gold, CorpusGen.gazetteer, stageDir, fp, outDir)
    val total = spark.read.parquet(outDir).count()
    val first = facts()
    assert(total > 0 && cps.count() > 0)

    // simulate a crash AFTER stage 1, the checkpointed extraction (patterns, pair_stats,
    // raw_triples), but before stage 2 commits the output: delete the final output, keep
    // every stage checkpoint. The annotated corpus lives only inside raw_triples.
    def rmrf(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.isDirectory) f.listFiles().foreach(c => rmrf(c.getPath))
      f.delete()
    }
    rmrf(outDir); rmrf(outDir + "_checkpoints")

    def written(stage: String) = {
      val dir = new java.io.File(s"$stageDir/$stage")
      (dir.lastModified(), dir.list().toSet)
    }
    val stages = Seq("patterns", "pair_stats", "raw_triples").map(s => s -> written(s))
    // any page read throws: the resumed run may annotate neither the corpus nor the
    // training slice
    val unreadable = pages.map[graft.model.Page] { p =>
      throw new IllegalStateException(s"resumed run read page ${p.url}")
    }
    graft.pipeline.KGPipeline.runCheckpointed(
      unreadable, gold, CorpusGen.gazetteer, stageDir, fp, outDir)
    stages.foreach { case (s, w) =>
      assert(written(s) === w, s"$s stage was recomputed on resume") }
    assert(spark.read.parquet(outDir).count() === total,
      "resumed run must reproduce the identical output")
    assert(facts() === first, "resumed run must commit the same facts")
  }
}
