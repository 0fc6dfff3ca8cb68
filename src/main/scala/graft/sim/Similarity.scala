package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor search over an embedding column (array<float>).
 *
 * Two paths:
 *  - bruteForceTopK: exact cosine top-k — the baseline/oracle. O(Q·N); used when the
 *    query set is small enough to broadcast (the common "probe set vs corpus" shape).
 *    The corpus side streams; no shuffle except the final per-query top-k window.
 *  - lshTopK: the scale path — random-hyperplane LSH buckets both sides; only
 *    same-bucket pairs are scored, turning O(Q·N) into an equi-join on the bucket key.
 *    Hyperplanes are derived deterministically from a seed via xxhash64, so bucket
 *    assignment is reproducible at any parallelism (no Math.random — SURVEY.md §7.4.4).
 *
 * Scores: dot products are computed in quantized integer space (elements scaled by
 * 1000 and rounded to long) — bit-exact across engines and summation orders, which
 * makes the result hashable against a SQL oracle and stable under AQE re-planning.
 * For ranking purposes quantized-dot ordering matches float ordering except for
 * near-exact ties, which are broken deterministically by id.
 */
object Similarity {

  /** Quantized embedding: round(x * 1000) per element, as array<long>. Native kernel
    * (graft.functions.QuantizeI64) — bit-identical to
    * `transform(v, x => round(x.cast("double")*1000).cast("long"))`, single pass. */
  def quantize(v: Column): Column = call_function("quantize_i64", v)

  /** Exact integer dot product of two quantized vectors (native kernel — identical to
    * the aggregate/zip_with formulation on equal-length vectors, ~10× throughput). */
  def qdot(a: Column, b: Column): Column = call_function("qdot_i64", a, b)

  /** Squared L2 norm of a quantized vector (integer, exact). */
  def qnorm2(v: Column): Column = qdot(v, v)

  /**
   * Exact top-k neighbors for each query id (queries = rows of `queries`, corpus =
   * rows of `corpus`; both (id, vec)). Returns (query_id, neighbor_id, dot_q, rank).
   * The corpus·queries join is a broadcast nested-loop with the small query side
   * broadcast — corpus partitions stream once, nothing shuffles but the top-k.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("id").as("neighbor_id"), quantize(col("vec")).as("cv"))
    val q = queries.select(col("id").as("query_id"), quantize(col("vec")).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), qdot(col("cv"), col("qv")).as("dot_q"))
    val w = Window.partitionBy("query_id").orderBy(desc("dot_q"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** LSH bucket signature: `planes` sign bits of the quantized vector against
    * deterministic ±1 hyperplanes, packed into a long. Native single-pass kernel
    * (graft.functions.LshBucketExpr, codegen'd, sign table cached per JVM). */
  def lshBucket(qv: Column, planes: Int, seed: Int = 42): Column =
    call_function("lsh_bucket", qv, lit(planes), lit(seed))

  /**
   * LSH-bucketed ANN: score only same-bucket pairs. With `tables` independent hash
   * tables (different seeds) unioned for recall. Returns the same shape as
   * bruteForceTopK (rank within found candidates).
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 8, tables: Int = 2): DataFrame = {
    val cand = (0 until tables).map { t =>
      val c = corpus.select(col("id").as("neighbor_id"), quantize(col("vec")).as("cv"))
        .withColumn("bkt", lshBucket(col("cv"), planes, seed = 1000 + t))
      val q = queries.select(col("id").as("query_id"), quantize(col("vec")).as("qv"))
        .withColumn("bkt", lshBucket(col("qv"), planes, seed = 1000 + t))
      c.join(broadcast(q), Seq("bkt")).filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("cv"), col("qv"))
    }.reduce(_ unionByName _).dropDuplicates("query_id", "neighbor_id")
    val scored = cand.select(col("query_id"), col("neighbor_id"),
      qdot(col("cv"), col("qv")).as("dot_q"))
    val w = Window.partitionBy("query_id").orderBy(desc("dot_q"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * IVF (inverted-file) ANN — the classic coarse-quantizer scale path alongside LSH:
   * corpus vectors are assigned ONCE to their nearest centroid cell (narrow pass, the
   * small centroid set broadcast; per-vector argmax is a map-side-combining aggregate,
   * not a window), queries probe their `nprobe` nearest cells, and exact scoring runs
   * only within probed cells — an equi-join on the cell id instead of the O(Q·N)
   * cross product. Centroids are a deterministic corpus subsample (every
   * `centroidStride`-th id) — the engine-portable stand-in for k-means centroids; the
   * assign/probe/in-cell-search shape is the real IVF pipeline and is what scales.
   * Metric: max quantized dot (ties → lower centroid id), same integer space as the
   * other paths, so the DuckDB oracle replays it exactly.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      centroidStride: Int = 25, nprobe: Int = 2, maxCentroids: Int = 4096): DataFrame = {
    // the codebook size must stay FIXED as the corpus grows — a stride-only subsample
    // has C = N/stride, which silently turns the O(N·C) assignment pass into
    // O(N²/stride). The ordered limit (TakeOrdered over the already-strided rows)
    // caps C at maxCentroids regardless of N; at scale pick stride ≈ N/maxCentroids
    // so the subsample is spread over the whole id range rather than truncated.
    val cents = corpus.filter(pmod(col("id"), lit(centroidStride)) === 0)
      .orderBy(col("id")).limit(maxCentroids)
      .select(col("id").as("cid"), quantize(col("vec")).as("centv"))
    val c = corpus.select(col("id").as("neighbor_id"), quantize(col("vec")).as("cv"))
    // assign: argmax_{cid} dot(cv, centv) — atomic max_by keeps (cell, cv) together
    val assigned = c.join(broadcast(cents))
      .groupBy(col("neighbor_id"))
      .agg(max_by(struct(col("cid"), col("cv")),
        struct(qdot(col("cv"), col("centv")), -col("cid"))).as("w"))
      .select(col("neighbor_id"), col("w.cid").as("cell"), col("w.cv").as("cv"))
    // probe: top-nprobe cells per query (query side is small; window is per-query)
    val wProbe = Window.partitionBy("query_id").orderBy(desc("dotc"), asc("cid"))
    val probes = queries.select(col("id").as("query_id"), quantize(col("vec")).as("qv"))
      .join(broadcast(cents))
      .select(col("query_id"), col("qv"), col("cid"),
        qdot(col("qv"), col("centv")).as("dotc"))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid").as("cell"))
    // NO broadcast hint on the in-cell search: the probe side is Q × nprobe rows —
    // fine to broadcast for point-lookup workloads, but a corpus-sized query set (the
    // all-pairs shape) must stay a shuffle equi-join on the cell id. AQE picks
    // broadcast at runtime whenever the probe side is actually small.
    val scored = assigned.join(probes, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), qdot(col("cv"), col("qv")).as("dot_q"))
    val w = Window.partitionBy("query_id").orderBy(desc("dot_q"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs over one corpus: all pairs whose quantized
    * cosine (scaled to basis points, integer-rounded) >= minCosBp. Blocking via LSH
    * bucket equality keeps it off the O(N²) path. */
  def cosineNearDupPairs(corpus: DataFrame, minCosBp: Long, planes: Int = 6,
      tables: Int = 2): DataFrame = {
    val cand = (0 until tables).map { t =>
      val v = corpus.select(col("id"), quantize(col("vec")).as("qv"))
        .withColumn("bkt", lshBucket(col("qv"), planes, seed = 2000 + t))
      val l = v.select(col("bkt"), col("id").as("id_a"), col("qv").as("va"))
      val r = v.select(col("bkt"), col("id").as("id_b"), col("qv").as("vb"))
      // shuffle_hash self-join → ReusedExchange computes the bucketing once
      l.join(r.hint("shuffle_hash"), Seq("bkt")).filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "va", "vb")
    }.reduce(_ unionByName _).dropDuplicates("id_a", "id_b")
    cand
      .withColumn("cos_bp",
        floor(qdot(col("va"), col("vb")) * 10000L /
          ceil(sqrt(qnorm2(col("va")).cast("double") * qnorm2(col("vb")).cast("double"))).cast("long")))
      .filter(col("cos_bp") >= minCosBp)
      .select("id_a", "id_b", "cos_bp")
  }
}
