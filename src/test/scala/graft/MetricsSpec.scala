package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sink.Materialize

/** A commit's counters: observed by its one write and kept in its commit record. */
class MetricsSpec extends AnyFunSuite with SparkTest {

  test("resumable write: counters fire on real work; full resume reads lineage") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("metrics_resume").toString
    try {
      val ts = spark.createDataset(Seq(
        graft.model.Triple("s1", "p", "o1", "u1", 0, 1, 1L, 1.0, "auto"),
        graft.model.Triple("s2", "p", "o2", "u2", 0, 1, 1L, 1.0, "auto")))
      val path = s"$out/t"
      Materialize.writeResumable(ts, path, 4, Some("m.fresh"))
      val fresh = Materialize.record(path).getOrElse(fail("no commit record"))
      assert((fresh.triples, fresh.subjectsApprox, fresh.docsApprox) === ((2L, 2L, 2L)))
      // fully-resumed run: nothing lost → the commit starts no job and writes no file;
      // the record it keeps is the first commit's, counters included
      val (cps, jobs) = SparkTestBase.jobsStarted("metrics.resumed") {
        Materialize.writeResumable(ts, path, 4, Some("m.resumed")).collect() }
      assert(jobs === 0, s"a full resume started $jobs Spark jobs")
      assert(Materialize.record(path) === Some(fresh))
      assert(cps.map(_.getLong(1)).sum === 2L)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("kg write path reports canonical-triple counters") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    // every node of an executed plan: AQE plans, query stages and command plans included
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => (p.children ++ p.innerChildren.collect { case c: SparkPlan => c })
        .flatMap(nodes)
    })
    // the executed plan of every data write, kept off the listener bus
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[Seq[SparkPlan]]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val plan = nodes(qe.executedPlan)
        if (plan.exists(_.isInstanceOf[DataWritingCommandExec])) writes.add(plan)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out = java.nio.file.Files.createTempDirectory("metrics_kg").toString
    try {
      val nPages = 40
      val pages = graft.testgen.CorpusGen.pagesDS(nPages, partitions = 4)
      val gold = spark.createDataset(graft.testgen.CorpusGen.pages(10)
        .flatMap(graft.testgen.CorpusGen.goldAnnotations))
      val cps = graft.pipeline.KGPipeline.runAndWrite(pages, gold,
        graft.testgen.CorpusGen.gazetteer, s"$out/triples")
      val rec = Materialize.record(s"$out/triples").getOrElse(fail("no commit record"))
      val written = spark.read.parquet(s"$out/triples").count()
      assert(rec.triples === written)
      assert(rec.triples === cps.agg(sum("rows_out")).head().getLong(0))
      assert(rec.docsApprox > 0L)
      // one observation per commit write: the record's counters ride the lineage's
      val deadline = System.nanoTime() + 10000000000L
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(writes.size === 1, s"data writes: $writes")
      assert(writes.peek().count(_.isInstanceOf[CollectMetricsExec]) === 1,
        writes.peek().head)
    } finally {
      spark.listenerManager.unregister(listener)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }
}
