package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel.MEMORY_ONLY
import org.scalatest.funsuite.AnyFunSuite

/**
 * The battery's plan fingerprints ([[Bench.planFingerprint]]) name a plan, not a run:
 * the same query planned twice gets one fingerprint although its plan strings differ
 * in lambda instances, expression ids and exchange plan ids, and a plan with one more
 * Exchange gets another.
 */
class PlanFingerprintSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private def raw(df: DataFrame): String = df.queryExecution.executedPlan.canonicalized.toString

  /** A mapPartitions query whose lambda captures `factor`: a new instance each time. */
  private def mapped(factor: Long): DataFrame =
    spark.range(100).as[Long].mapPartitions(it => it.map(_ * factor)).toDF("v")

  test("a mapPartitions query planned twice gets one fingerprint") {
    val (a, b) = (mapped(2L), mapped(2L))
    assert(raw(a) != raw(b), "the plans print the same; the case shows nothing")
    assert(Bench.planFingerprint(a) === Bench.planFingerprint(b))
  }

  test("a query over a persisted fixture planned twice gets one fingerprint") {
    // the fixture is persisted anew each time, as in a new run: the cached plan inside
    // its InMemoryRelation keeps the expression ids of its own planning
    def planned(): (String, String) = {
      val fixture = spark.range(1000).selectExpr("id % 7 AS k", "id AS v").persist(MEMORY_ONLY)
      try {
        val q = fixture.groupBy("k").count()
        (raw(q), Bench.planFingerprint(q))
      } finally fixture.unpersist()
    }
    val (a, b) = (planned(), planned())
    assert(a._1 != b._1, "the plans print the same; the case shows nothing")
    assert(a._2 === b._2)
  }

  test("a plan with one more Exchange gets a different fingerprint") {
    val q = mapped(2L)
    val (a, b) = (q.repartition(3, $"v"), q.repartition(3, $"v"))
    // every planning numbers its exchanges anew
    assert(raw(a) != raw(b), "the plans print the same; the case shows nothing")
    assert(Bench.planFingerprint(a) === Bench.planFingerprint(b))
    assert(Bench.planFingerprint(a) !== Bench.planFingerprint(q))
  }
}
