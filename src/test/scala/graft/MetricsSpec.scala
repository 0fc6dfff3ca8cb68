package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.runtime.MetricsCollector

class MetricsSpec extends AnyFunSuite with SparkTest {

  test("observed counters are collected off the listener bus") {
    import spark.implicits._
    val mc = new MetricsCollector(spark)
    try {
      val df = (1L to 100L).toDF("x").observe("m.basic",
        count(lit(1)).as("rows"), sum(col("x")).as("sum_x"), min(col("x")).as("min_x"))
      df.filter(col("x") > 10).collect() // filter ABOVE observe: counters see all rows
      val m = mc.await("m.basic").getOrElse(fail("metric never arrived"))
      assert(m("rows") == 100L)
      assert(m("sum_x") == 5050L)
      assert(m("min_x") == 1L)
    } finally mc.close()
  }

  test("persist + second action does not zero the counters") {
    import spark.implicits._
    val mc = new MetricsCollector(spark)
    try {
      val df = (1L to 50L).toDF("x").observe("m.cached", count(lit(1)).as("rows"))
        .persist()
      try {
        df.count() // materializes the cache; observe fires with 50
        df.groupBy().sum("x").collect() // cache-served action
        val m = mc.await("m.cached").getOrElse(fail("metric never arrived"))
        // the collector must keep the real count even if the cache-served execution
        // reports an empty/zero observation
        assert(m("rows") == 50L, s"snapshot: ${mc.snapshot}")
      } finally df.unpersist()
    } finally mc.close()
  }

  test("a trivial (all-zero) re-observation never overwrites a real metric row") {
    import org.apache.spark.sql.Row
    val mc = new MetricsCollector(spark)
    try {
      // the merge guard itself: zero/null rows are trivial, anything carrying a
      // nonzero number or a string is not
      assert(mc.trivialRow(Row(0L, 0.0, null)))
      assert(!mc.trivialRow(Row(42L, 0L)))
      assert(!mc.trivialRow(Row(0L, "materialize")))
      assert(mc.trivialRow(Row())) // degenerate: no fields → no evidence
    } finally mc.close()
  }

  test("resumable write: counters fire on real work; full resume reads lineage") {
    import spark.implicits._
    val mc = new MetricsCollector(spark)
    val out = java.nio.file.Files.createTempDirectory("metrics_resume").toString
    try {
      val ts = spark.createDataset(Seq(
        graft.model.Triple("s1", "p", "o1", "u1", 0, 1, 1L, 1.0, "auto"),
        graft.model.Triple("s2", "p", "o2", "u2", 0, 1, 1L, 1.0, "auto")))
      graft.sink.Materialize.writeResumable(ts, s"$out/t", 4, Some("m.fresh"))
      assert(mc.await("m.fresh").exists(_("triples") == 2L))
      // fully-resumed run: nothing lost → the commit starts no query and NO counters
      // fire (documented contract: live counters measure work performed; zero work →
      // zero counters). The commit record is the durable one and must still carry
      // the counts.
      val cps = graft.sink.Materialize.writeResumable(ts, s"$out/t", 4, Some("m.resumed"))
      assert(mc.await("m.resumed", 3000L).isEmpty)
      assert(cps.agg(sum("rows_out")).head.getLong(0) == 2L)
    } finally {
      mc.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
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
    val mc = new MetricsCollector(spark)
    val out = java.nio.file.Files.createTempDirectory("metrics_kg").toString
    try {
      val nPages = 40
      val pages = graft.testgen.CorpusGen.pagesDS(nPages, partitions = 4)
      val gold = spark.createDataset(graft.testgen.CorpusGen.pages(10)
        .flatMap(graft.testgen.CorpusGen.goldAnnotations))
      val cps = graft.pipeline.KGPipeline.runAndWrite(pages, gold,
        graft.testgen.CorpusGen.gazetteer, s"$out/triples")
      val m = mc.await(graft.pipeline.KGPipeline.CanonicalMetric)
        .getOrElse(fail("canonical metric never arrived"))
      val written = spark.read.parquet(s"$out/triples").count()
      assert(m("triples") == written, s"snapshot: ${mc.snapshot}")
      assert(m("triples") == cps.agg(sum("rows_out")).head.getLong(0))
      assert(m("docs_approx").asInstanceOf[Long] > 0L)
      // one observation per commit write: the live counters ride the lineage's
      val deadline = System.nanoTime() + 10000000000L
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(writes.size === 1, s"data writes: $writes")
      assert(writes.peek().count(_.isInstanceOf[CollectMetricsExec]) === 1,
        writes.peek().head)
    } finally {
      mc.close()
      spark.listenerManager.unregister(listener)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }
}
