package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CuratePipeline

/** End-to-end fixtures for the composed curation pipeline: every stage must remove
  * exactly its designated victim, and the checkpointed path must resume without
  * recompute. */
class CuratePipelineSpec extends AnyFunSuite with SparkTest {

  import CuratePipeline.Config

  // one victim per stage, two survivors
  private def fixture = {
    import spark.implicits._
    Seq(
      // 1: clean 10-token doc — survives everything
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s1"),
      // 2: too short → quality gate (minTokens)
      (2L, "short doc", "en", "s1"),
      // 3: degenerate repetition → quality gate (dup_bp 9090 > 5000)
      (3L, "spam spam spam spam spam spam spam spam spam spam spam spam", "en", "s1"),
      // 4: exact clone of 1 → dedup keeps the min-id representative only
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s1"),
      // 5: carries an eval-set 8-gram → decontamination
      (5L, "one two three four five six seven eight nine ten eleven twelve", "en", "s2"),
      // 6: PII doc — survives, redacted
      (6L, "contact me at bob@example.com for ten more unique tokens here now", "fr", "s2")
    ).toDF("doc_id", "text", "lang", "source")
  }

  private def evalSet = {
    import spark.implicits._
    Seq((100L, "one two three four five six seven eight")).toDF("doc_id", "text")
  }

  test("each stage removes exactly its victim; survivors carry audit columns") {
    val out = CuratePipeline.run(fixture, evalSet, Config())(spark)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet == Set(1L, 6L))
    val d6 = out(6L)
    assert(d6.getAs[String]("text")
      == "contact me at <EMAIL> for ten more unique tokens here now")
    assert(d6.getAs[Long]("n_emails") == 1L)
    assert(d6.getAs[Long]("n_toks") == 11L) // post-redaction token count
    assert(out(1L).getAs[Long]("n_emails") == 0L)
    assert(out(1L).getAs[Long]("dup_bp") == 0L)
  }

  test("mixing knobs bite: zero en sampling rate leaves only the fr doc") {
    val out = CuratePipeline.run(fixture, evalSet,
        Config(sampleRatesBp = Map("en" -> 0L)))(spark)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(out == Set(6L))
  }

  test("checkpointed run resumes every stage and returns identical rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_cps").toString
    val cfg = Config()
    val first = CuratePipeline.runCheckpointed(fixture, evalSet, cfg, dir, "fix1")(spark)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val cps = graft.runtime.StageCheckpoint(dir)(spark)
    val fp = "fix1|" + cfg.fingerprint
    val fpEval = fp + "|eval=" + CuratePipeline.evalFingerprint(evalSet)
    Seq("c1_quality", "c2_dedup", "c3_decontaminate", "c4_redact", "c5_mix").foreach { s =>
      // c1/c2 are keyed by (input, config); c3 onward also carry the eval identity
      val expected = if (s == "c1_quality" || s == "c2_dedup") fp else fpEval
      assert(cps.wouldResume(s, expected), s"stage $s did not commit")
      assert(cps.lineage(s).exists(l => l.fingerprint == expected && l.rowsTotal >= 0L),
        s"stage $s has no commit record")
    }
    val second = CuratePipeline.runCheckpointed(fixture, evalSet, cfg, dir, "fix1")(spark)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(first == second && first == Set(1L, 6L))
    // a config change is a new fingerprint → stages recompute, not reuse
    assert(!cps.wouldResume("c1_quality",
      "fix1|" + Config(minTokens = 11L).fingerprint))
  }

  test("disabled mixing knobs pay zero window shuffles") {
    val plan = CuratePipeline.mix(fixture, CuratePipeline.Config())
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no-op quota/budget still paid a window:\n$plan")
    // enabled knobs DO window (sanity that the guard keys off the right sentinels)
    val planOn = CuratePipeline.mix(
      fixture.withColumn("n_toks", org.apache.spark.sql.functions.lit(5L)),
      CuratePipeline.Config(quotaK = 1, budgets = Map("en" -> 10L)))
      .queryExecution.executedPlan.toString
    assert(planOn.contains("Window"))
  }

  test("a changed eval set invalidates decontamination (and downstream) on resume") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_eval").toString
    val cfg = Config()
    val first = CuratePipeline.runCheckpointed(fixture, evalSet, cfg, dir, "fix1")(spark)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(first == Set(1L, 6L))
    // new benchmark added: doc 1's opening 8-gram is now contaminated
    val evalSet2 = evalSet.union(Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text"))
    val second = CuratePipeline.runCheckpointed(fixture, evalSet2, cfg, dir, "fix1")(spark)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // without the eval identity in the c3 fingerprint this reused the stale
    // decontamination output and leaked doc 1 into the corpus
    assert(second == Set(6L), s"stale decontamination output reused: $second")
    // c1/c2 did NOT recompute — their fingerprints are eval-independent
    val cps = graft.runtime.StageCheckpoint(dir)(spark)
    assert(cps.wouldResume("c1_quality", "fix1|" + cfg.fingerprint))
  }
}
