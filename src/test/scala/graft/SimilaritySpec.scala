package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.sim.Similarity

/** Native vector kernels vs builtin formulations; top-k semantics. */
class SimilaritySpec extends AnyFunSuite with SparkTest {

  private def vecs = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (0 until 50).map(i => (i.toLong,
      Array.fill(16)((rnd.nextDouble() * 2 - 1).toFloat))).toDF("id", "vec")
  }

  test("quantize_i64 == HOF round formulation (incl. negatives)") {
    import spark.implicits._
    val edge = Seq((100L, Array(-0.0025f, 0.0025f, -1.5f, 1.5f, 0f, 0.9995f)))
      .toDF("id", "vec")
    Seq(vecs, edge).foreach { df =>
      val native = df.select(col("id"), Similarity.quantize(col("vec")).as("q"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val hof = df.select(col("id"), SimilaritySpec.quantizeHof(col("vec")).as("q"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(native === hof)
    }
  }

  test("qdot_i64 == HOF aggregate/zip_with formulation") {
    val q = vecs.select(col("id"), Similarity.quantize(col("vec")).as("qv"))
    val pairs = q.as("a").crossJoin(q.as("b"))
      .filter(col("a.id") < col("b.id")).limit(200)
    val native = pairs.select(Similarity.qdot(col("a.qv"), col("b.qv"))).collect().map(_.getLong(0))
    val hof = pairs.select(SimilaritySpec.qdotHof(col("a.qv"), col("b.qv")))
      .collect().map(_.getLong(0))
    assert(native.toSeq === hof.toSeq)
  }

  test("bruteForceTopK returns k exact neighbors per query, self excluded") {
    val corpus = vecs
    val queries = vecs.filter(col("id") < 5)
    val top = Similarity.bruteForceTopK(corpus, queries, k = 3).collect()
    assert(top.length === 15)
    val byQuery = top.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Long]("neighbor_id")).distinct.length === 3)
      assert(!rows.exists(_.getAs[Long]("neighbor_id") == q), "self in top-k")
      // ranks are 1..3 with non-increasing dot
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq === Seq(1, 2, 3))
      val dots = sorted.map(_.getAs[Long]("dot_q"))
      assert(dots.zip(dots.tail).forall { case (a, b) => a >= b })
    }
  }

  test("lsh_bucket native kernel == HOF md5-sign formulation") {
    val q = vecs.select(col("id"), Similarity.quantize(col("vec")).as("qv"))
    for ((planes, seed) <- Seq((8, 1000), (4, 2003), (6, 42))) {
      val native = q.select(col("id"), Similarity.lshBucket(col("qv"), planes, seed))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val hof = q.select(col("id"), SimilaritySpec.lshBucketHof(col("qv"), planes, seed))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(native === hof, s"planes=$planes seed=$seed")
      assert(native.values.toSet.size > 1, "degenerate bucketing")
    }
  }

  test("ivfTopK probing ALL cells == brute force; limited probes keep high recall") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextDouble() * 2 - 1))
    val df = (0 until 80).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat))
    }.toDF("id", "vec")
    val queries = df.filter(col("id") < 8)
    val exact = Similarity.bruteForceTopK(df, queries, k = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("dot_q"), r.getAs[Int]("rank"))).toSet
    // stride 10 → 8 centroid cells; probing all of them must reproduce brute force
    // exactly (every neighbor lives in SOME probed cell)
    val full = Similarity.ivfTopK(df, queries, k = 3, centroidStride = 10, nprobe = 8)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("dot_q"), r.getAs[Int]("rank"))).toSet
    assert(full === exact, "all-cells IVF diverged from brute force")
    // the scale path: 2 probes out of 8 cells still finds most true neighbors on
    // clustered data (cells align with clusters)
    val probed = Similarity.ivfTopK(df, queries, k = 3, centroidStride = 10, nprobe = 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = exact.map(t => (t._1, t._2)).intersect(probed).size.toDouble / exact.size
    assert(recall >= 0.6, f"IVF recall $recall%.2f too low")
  }

  test("lshTopK recall vs brute force is substantial on clustered data") {
    import spark.implicits._
    // clustered vectors → LSH buckets keep near neighbors together
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextDouble() * 2 - 1))
    val df = (0 until 80).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat))
    }.toDF("id", "vec")
    val queries = df.filter(col("id") < 8)
    val exact = Similarity.bruteForceTopK(df, queries, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.lshTopK(df, queries, k = 5, planes = 6, tables = 4).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, f"ANN recall $recall%.2f too low")
  }
}

/** The pure-builtin formulations of the vector kernels: their parity oracles. */
object SimilaritySpec {

  def quantizeHof(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1000d).cast("long"))

  def qdotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Hyperplane component for (plane p, dim d): ±1 from the low bit of the first hex
    * char of md5("{seed}:{p}:{d}"), as the DuckDB oracle replays it. */
  private def planeSign(p: Int, d: Column, seed: Int): Column =
    when(substring(md5(concat_ws(":", lit(seed), lit(p), d.cast("string"))), 1, 1)
      .isin("1", "3", "5", "7", "9", "b", "d", "f"), lit(1L)).otherwise(lit(-1L))

  /** `Similarity.lshBucket` interpreted per element: one sign bit per plane. */
  def lshBucketHof(qv: Column, planes: Int, seed: Int): Column =
    (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(qv, sequence(lit(0), size(qv) - 1), (x, d) => x * planeSign(p, d, seed)),
        lit(0L), (acc, x) => acc + x)
      when(proj > 0, lit(1L) * (1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
}
