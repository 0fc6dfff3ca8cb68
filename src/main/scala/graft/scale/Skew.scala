package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Explicit skew handling for hot keys — salted aggregation / join splitting for the
 * corpus shapes the north rule names (hot domains owning a large share of all pages;
 * mega-entities appearing as the subject of millions of triples).
 * AQE skew-join splitting stays enabled in every session ([[graft.util.Sessions]]) and
 * handles residual runtime imbalance; these helpers are for the keyed operations where
 * the skew is KNOWN ahead of planning and the fix must be part of the plan itself.
 *
 * The salt is DETERMINISTIC — `pmod(xxhash64(high-cardinality cols), buckets)`, never
 * `rand()`. The determinism gate (identical output hashes at any parallelism,
 * BASELINE.md) and Spark's own recovery model both require it: a task retry re-derives
 * the same salt for the same row, where a `rand()` salt re-deals rows across buckets on
 * recomputation and can double- or zero-count them in a downstream aggregate.
 *
 * Reference context: the single-threaded reference never faces this (one JDBC cursor,
 * /root/reference/src/msa/IEDriver.java drives documents one block at a time); skew is
 * purely an artifact of distributing its workload, so these operators have no reference
 * analog and follow the standard salted two-phase shapes.
 */
object Skew {

  private val SaltCol = "__graft_salt"

  /** Deterministic salt in `[0, buckets)` derived from high-cardinality columns. */
  def salt(buckets: Int, from: Column*): Column =
    pmod(xxhash64(from: _*), lit(buckets.toLong))

  /** One aggregate expressed as a two-phase (partial per `(key, salt)`, merge per
    * `key`) pair, so a salted aggregation can be assembled declaratively. */
  final case class TwoPhase(name: String, partial: Column, merge: Column => Column)

  /** count(*) — partials counted per salt bucket, merged by summing. */
  def cnt(name: String): TwoPhase = TwoPhase(name, count(lit(1)), sum(_))
  def sumOf(c: Column, name: String): TwoPhase = TwoPhase(name, sum(c), sum(_))
  def minOf(c: Column, name: String): TwoPhase = TwoPhase(name, min(c), min(_))
  def maxOf(c: Column, name: String): TwoPhase = TwoPhase(name, max(c), max(_))

  /**
   * Salted two-phase aggregation over a skewed grouping key: phase 1 aggregates per
   * `(groupCols…, salt)` — the hot key's load spreads over `buckets` reducers — and
   * phase 2 merges the (≤ buckets per key, tiny) partials per `groupCols`.
   *
   * Equivalent to `df.groupBy(groupCols).agg(…)` for any decomposable aggregate (the
   * [[TwoPhase]] constructors above); the spec proves equality on a 90%-hot-key
   * fixture. Note Spark's hash aggregate already does map-side partials for these —
   * the salted form matters when the REDUCE side itself is the bottleneck (a hot key
   * whose partial set is still too large for one reducer, e.g. a mega-entity's
   * per-document partials) or when the partial is itself expensive state.
   */
  def saltedAgg(df: DataFrame, groupCols: Seq[String], saltFrom: Seq[Column],
      buckets: Int, aggs: Seq[TwoPhase]): DataFrame = {
    require(aggs.nonEmpty, "saltedAgg needs at least one aggregate")
    val partial = df
      .withColumn(SaltCol, salt(buckets, saltFrom: _*))
      .groupBy(groupCols.map(col) :+ col(SaltCol): _*)
      .agg(aggs.head.partial.as(aggs.head.name),
        aggs.tail.map(a => a.partial.as(a.name)): _*)
    partial
      .groupBy(groupCols.map(col): _*)
      .agg(aggs.head.merge(col(aggs.head.name)).as(aggs.head.name),
        aggs.tail.map(a => a.merge(col(a.name)).as(a.name)): _*)
  }

  /**
   * Salted skew join: fact×dim equi-join where the fact side is hot on the join key
   * and the dim side is too large to broadcast. The fact side gets a deterministic
   * salt from `saltFrom` (high-cardinality fact columns); the dim side is replicated
   * `buckets`× via explode; the join runs on `(key, salt)`, so the hot key's fact rows
   * spread over `buckets` join tasks instead of one straggler.
   *
   * Result is multiset-identical to `fact.join(dim, factKey === dimKey)`: each dim
   * replica pairs with exactly the fact rows that drew its salt value, and the salt
   * values partition the fact rows. Replication costs `buckets × |dim|` shuffle rows —
   * size `buckets` to the observed skew (8–32), not to the partition count.
   */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
      saltFrom: Seq[Column], buckets: Int): DataFrame = {
    val f = fact.withColumn(SaltCol, salt(buckets, saltFrom: _*))
    val d = dim.withColumn(SaltCol, explode(sequence(lit(0L), lit(buckets.toLong - 1))))
    f.join(d, f(factKey) === d(dimKey) && f(SaltCol) === d(SaltCol))
      .drop(SaltCol)
  }
}
