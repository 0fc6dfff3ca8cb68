package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.scale.Skew

/**
 * Salted skew handling: the decomposed (salted) forms must be EXACTLY equivalent to
 * their direct formulations on a deliberately hot-keyed fixture (one key owns 90% of
 * the rows — the hot-domain / mega-entity shape), the salt must be deterministic, and
 * the salt must actually spread the hot key across partitions.
 */
class SkewSpec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  // 90% of rows on key "hot", the rest across 20 cold keys; id is high-cardinality.
  private lazy val fact = spark.range(0, 2000)
    .select(col("id"),
      when(col("id") < 1800, lit("hot"))
        .otherwise(concat(lit("cold"), pmod(col("id"), lit(20)))).as("k"),
      (col("id") % 7).as("v"))
    .cache()

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[Row] = {
    val cols = df.columns.sorted.map(col).toSeq
    df.select(cols: _*).collect().toSeq.sortBy(_.toString)
  }

  test("saltedAgg equals direct groupBy on a 90%-hot-key fixture") {
    val direct = fact.groupBy("k").agg(
      count(lit(1)).as("n"), sum("v").as("s"), max("v").as("mx"), min("v").as("mn"))
    val salted = Skew.saltedAgg(fact.toDF(), Seq("k"), Seq(col("id")), buckets = 8,
      Seq(Skew.cnt("n"), Skew.sumOf(col("v"), "s"),
        Skew.maxOf(col("v"), "mx"), Skew.minOf(col("v"), "mn")))
    assert(sortedRows(salted) == sortedRows(direct))
  }

  test("AQE splits the hot partition of a skewed sort-merge join (skew=true)") {
    // The complement to salting: for plain (unsalted) joins the session relies on
    // AQE's OptimizeSkewedJoin (enabled in every graft session factory). Evidence it
    // actually fires: shrink the skew thresholds so the 90%-hot fixture qualifies,
    // force a shuffled join (no broadcast), and assert the FINAL adaptive plan marks
    // the join skew-split.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bigFact = spark.range(0, 60000)
        .select(col("id"),
          when(col("id") < 54000, lit("hot"))
            .otherwise(concat(lit("cold"), pmod(col("id"), lit(20)))).as("k"))
      val dim = (Seq("hot") ++ (0 until 20).map("cold" + _)).toDF("k")
        .withColumn("attr", length(col("k")))
      val joined = bigFact.hint("merge").join(dim, Seq("k"))
      // collect() drives joined's OWN queryExecution, so the adaptive plan read
      // below is the FINAL one (a .count() would execute a separate plan)
      assert(joined.collect().length == 60000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"no skew split in final plan:\n${plan.take(2000)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("saltedJoin is multiset-identical to the plain equi-join") {
    val dim = Seq(("hot", 100L), ("cold3", 3L), ("cold7", 7L), ("absent", -1L))
      .toDF("dk", "w")
    val direct = fact.join(dim, col("k") === col("dk")).drop("dk")
    val salted = Skew.saltedJoin(fact.toDF(), dim, "k", "dk",
      saltFrom = Seq(col("id")), buckets = 8).drop("dk")
    assert(sortedRows(salted) == sortedRows(direct))
    assert(salted.count() == 1800 + 10 + 10) // hot + cold3 + cold7 (200 cold / 20 keys)
  }

  test("salt is deterministic and spreads the hot key over the bucket range") {
    val salted = fact.withColumn("salt", Skew.salt(8, col("id")))
    val again = fact.withColumn("salt", Skew.salt(8, col("id")))
    assert(sortedRows(salted) == sortedRows(again))
    // the hot key's rows draw every salt value (≈225 rows per bucket at 1800/8)
    val hotBuckets = salted.filter(col("k") === "hot")
      .groupBy("salt").count().collect()
    assert(hotBuckets.length == 8)
    assert(hotBuckets.map(_.getLong(1)).max < 1800 / 2,
      "salting left the hot key concentrated")
  }
}
