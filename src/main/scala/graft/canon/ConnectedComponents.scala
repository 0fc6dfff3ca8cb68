package graft.canon

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.learn.LearnKernel.Utf8Order

/**
 * Connected components on a DataFrame edge list via alternating large-star / small-star
 * operations (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
 * the algorithm the north rule names for canonicalization). Converges in O(log n)
 * rounds; each round is two shuffles on the node id. Lineage is truncated with
 * localCheckpoint every round so the plan stays flat at 10^12-edge scale; convergence is
 * detected by an (order-insensitive) edge-set checksum.
 *
 * Replaces the reference's transitive duplicate propagation
 * (/root/reference/src/msa/pipeline/AnnotateDuplicate.java:106-270) with the standard
 * web-scale formulation. Node ids are strings (surface forms / entity keys); the
 * canonical representative of a component is its minimum node.
 *
 * large-star: for every node u, connect every neighbour v > u to m = min(Γ(u) ∪ {u}).
 * small-star: for every node u, connect every neighbour v ≤ u (and u) to
 *             m = min({v ∈ Γ(u): v ≤ u} ∪ {u}).
 */
object ConnectedComponents {

  // Both stars use a TWO-PHASE min-aggregate (per-node min as a map-side-combinable
  // aggregate, joined back to the edge stream) instead of collect_set: a mega-hub —
  // a 10^5-degree node is routine in a 10^12-edge canonicalization graph — would
  // materialize its whole neighbour set as one array in one aggregation buffer and
  // blow the executor. With min+join, per-key state is O(1) and the hub's edges
  // stream through the join; the groupBy and the join hash-partition by the same key,
  // so Catalyst reuses one exchange of the symmetric edge list (ReusedExchange).

  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u")
      .agg(min(col("v")).as("mn"))
      .select(col("u").as("mu"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, sym("u") === mins("mu"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  private def smallStar(edges: DataFrame): DataFrame = {
    // orient edges so u > v; m = min(Γ≤(u)) — every oriented neighbour is < u, so
    // the self term in min(Γ≤(u) ∪ {u}) can never win and is dropped
    val oriented = edges
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
    val fromNbrs = oriented
      .join(mins.select(col("u").as("mu"), col("m")), col("u") === col("mu"))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    // the u → m pointer itself (u ≠ m always: m < u by orientation)
    val fromSelf = mins.select(col("u"), col("m").as("v"))
    fromNbrs.union(fromSelf).distinct()
  }

  private def checksum(edges: DataFrame): (Long, Long) = {
    // xor-fold (order-insensitive, overflow-free under ANSI mode)
    val r = edges.agg(count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The same count/xor checksum as an OBSERVATION riding an existing action
    * (the round's lineage-truncation job), so convergence detection costs zero
    * extra jobs per round — at fixture scale the per-round job-scheduling floor,
    * not compute, dominates CC wall-clock. */
  private def observedChecksum(edges: DataFrame): (DataFrame, () => (Long, Long)) = {
    val obs = org.apache.spark.sql.Observation()
    val df = edges.observe(obs, count(lit(1)).as("cnt"),
      coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("xr"))
    (df, () => {
      val m = obs.get
      (m("cnt").asInstanceOf[Long], m("xr").asInstanceOf[Long])
    })
  }

  /** Round cap: the star rounds converge in O(log n), far below it. */
  private val MaxIter = 25

  /** @param edges DataFrame with string columns (src, dst); undirected.
    * @return DataFrame(node STRING, component STRING = min node of its component). */
  def run(edges: DataFrame): DataFrame = {
    // Materialize the input edge list ONCE: `nodes` and the iteration both derive from
    // it, and without this the entire upstream DAG (e.g. a full near-dup pairs pipeline)
    // recomputes per consumer — observed 3× wall-clock on q28.
    val raw = edges.select(col("src").as("u"), col("dst").as("v")).distinct()
      .localCheckpoint()
    val nodes = raw.select(col("u").as("n"))
      .union(raw.select(col("v").as("n"))).distinct()
    var e = raw.filter(col("u") =!= col("v"))
    var prev = checksum(e)
    var converged = prev._1 == 0L
    var iter = 0
    while (!converged && iter < MaxIter) {
      // the convergence checksum rides the truncation job as an observation —
      // one job per round, not two
      val (observed, readChecksum) = observedChecksum(smallStar(largeStar(e)))
      e = observed.localCheckpoint()
      val cur = readChecksum()
      converged = cur == prev
      prev = cur
      iter += 1
    }
    // after convergence every non-root points directly at its component min
    val pointers = e.select(col("u").as("node"), col("v").as("component"))
      .groupBy("node").agg(min("component").as("component"))
    nodes.join(pointers, nodes("n") === pointers("node"), "left")
      .select(col("n").as("node"),
        coalesce(col("component"), col("n")).as("component"))
  }

  /**
   * Adaptive entry point: count the distinct edge list first; when it fits in one
   * task (`smallGraphMaxEdges`), run a single-pass union-find in ONE executor task
   * instead of O(log n) distributed rounds — identical semantics (node → min node of
   * its component), but none of the per-round job-scheduling floor that dominates
   * wall-clock at fixture scale (q44 spent most of its battery seconds on CC round
   * scheduling over a few hundred pairs). At 100 TB the count says "big" and the
   * distributed path runs exactly as before; the count itself reuses the cached edge
   * list the CC pass needs anyway. Union-by-min keeps every tree root the component
   * minimum, so `find` at the end IS the canonical representative.
   */
  def runAdaptive(edges: DataFrame, smallGraphMaxEdges: Long = 1L << 20)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val raw = edges.select(col("src").as("u"), col("dst").as("v")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val small = raw.count() <= smallGraphMaxEdges
    val out =
      if (small)
        raw.as[(String, String)].coalesce(1)
          .mapPartitions(localComponents)
          .toDF("node", "component")
          .localCheckpoint() // eager: materialize before the cache below is dropped
      else
        run(raw.select(col("u").as("src"), col("v").as("dst")))
    // safe either way: the small path just checkpointed; run()'s round-0 checkpoint
    // already materialized its own copy of the edge list
    raw.unpersist(blocking = false)
    out
  }

  /** Driver/task-local union-find with union-by-min and path compression: the root
    * of every tree is the smallest node of its component at all times, in Spark's
    * string order (UTF-8 bytes, as [[run]]'s `min`/`least`), so both paths pick the
    * same representative. */
  private[graft] def localComponents(
      it: Iterator[(String, String)]): Iterator[(String, String)] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    val nodes = scala.collection.mutable.LinkedHashSet.empty[String]
    it.foreach { case (u, v) =>
      nodes += u; nodes += v
      if (u != v) {
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) {
          if (Utf8Order.lt(ru, rv)) parent(rv) = ru else parent(ru) = rv
        }
      }
    }
    nodes.iterator.map(n => (n, find(n)))
  }
}
