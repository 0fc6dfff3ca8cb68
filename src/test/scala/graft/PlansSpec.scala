package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
import org.apache.spark.sql.execution.ExplainMode

/**
 * Executable plan-regression guard: the PLANS.md evidence turned into assertions, so a
 * scale-killer (an unpartitioned global window, a silent cartesian join, lost filter
 * pushdown, a de-broadcast join, a native kernel falling out of the plan) fails
 * `sbt test` instead of waiting for a reviewer's eyeball.
 *
 * Logical guards run over EVERY oracle query; string guards pin the headline physical
 * plans. sf0.001 keeps planning instant — the guards are about plan SHAPE, which is
 * scale-invariant here (broadcast thresholds far above these dims at every SF we run).
 */
class PlansSpec extends AnyFunSuite with SparkTest {

  private val dir = "/root/testdata/sf0.001"

  // q31's priors collect their vocabulary counts at build time, and q28/q44 execute
  // their CC iterations there; their component plans are guarded via q19/q27/q30.
  private val skip = Set("q28_cc_neardup", "q44_dedup_canon", "q31_value_priors")

  // q22 is the DELIBERATE broadcast brute-force baseline (query side broadcast against
  // every embedding row); q36's corpus×centroid product is the IVF coarse-quantizer
  // assignment pass (the tiny centroid set broadcast, corpus streams once — O(N·C)
  // narrow by design). The only sanctioned non-equi joins in the battery.
  private val crossJoinAllowed = Set("q22_cosine_topk", "q36_ann_ivf")

  private def df(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  private def formatted(name: String): String =
    df(name).queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("every query plan: no unpartitioned window, no condition-less join") {
    try SparkEntry.queries.keys.toSeq.sorted.filterNot(skip).foreach { name =>
      val plan = df(name).queryExecution.optimizedPlan
      plan.collect { case w: LWindow => w }.foreach { w =>
        assert(w.partitionSpec.nonEmpty,
          s"$name: UNPARTITIONED window — every learned-pattern/topk window must " +
            "partition, or it funnels the corpus through one task (the round-1 " +
            "GenMSA regression class)")
      }
      if (!crossJoinAllowed(name))
        plan.collect { case j: Join => j }.foreach { j =>
          assert(j.condition.nonEmpty,
            s"$name: condition-less join — a cartesian product at corpus scale")
        }
    } finally SparkEntry.clearFixtures()
  }

  test("q01: filter + projection reach the parquet scan") {
    val p = formatted("q01_scan_prune")
    assert(p.contains("PushedFilters:") && p.contains("EqualTo(l_returnflag,R)"),
      s"filter pushdown lost:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_returnflag:string>"),
      s"column pruning lost (scan reads more than the 4 needed columns):\n$p")
    assert(p.contains("[codegen id :"))
  }

  test("q03: both dim joins broadcast; no sort-merge of the fact side") {
    val p = formatted("q03_join_agg")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, s"de-broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact-side shuffle join appeared:\n$p")
  }

  test("q06: window top-1 keeps the group-limit pushdown") {
    val p = formatted("q06_window_top1")
    assert(p.contains("WindowGroupLimit"),
      s"WindowGroupLimit gone — full sort of every group:\n$p")
  }

  test("q08: range join plans as hash join on the equality key, not a loop join") {
    val p = formatted("q08_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join degenerated:\n$p")
  }

  test("q19: near-dup stays bucketed — no cross join anywhere") {
    val p = formatted("q19_jaccard_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs blow-up:\n$p")
  }

  test("q23/q26: native kernels stay in the plan inside codegen spans") {
    val p26 = formatted("q26_mention_count")
    assert(p26.contains("ahocorasick_matches"), s"native gazetteer kernel gone:\n$p26")
    // (codegen-compilability of the kernel itself is guarded by FunctionsSpec under
    //  codegen.fallback=false + CODEGEN_ONLY; AQE-wrapped explain hides codegen ids)
    val p23 = formatted("q23_ann_lsh")
    assert(p23.contains("lsh_bucket"), s"native LSH kernel gone:\n$p23")
    assert(!p23.contains("CartesianProduct"))
    val p21 = formatted("q21_simhash")
    assert(p21.contains("simhash_md5"),
      s"native simhash kernel gone (fingerprint stage re-grew a shuffle):\n$p21")
    val p41 = formatted("q41_repetition")
    assert(p41.contains("repetition_stats"),
      s"native repetition kernel gone (quality stage re-grew the gram explode):\n$p41")
    assert(!p41.contains("Exchange"),
      s"repetition must stay a ZERO-shuffle narrow map:\n$p41")
  }

  test("q24: bucketing computed once — self-join reuses the exchange (AQE final plan)") {
    val d = df("q24_cosine_neardup")
    assert(!formatted("q24_cosine_neardup").contains("CartesianProduct"))
    d.collect() // exchange reuse is an AQE runtime decision — inspect the FINAL plan
    val p = d.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      s"lsh_bucket shuffle now computed twice:\n$p")
  }

  test("q42: the eval shingle set joins broadcast — the corpus side never shuffles to match") {
    val p = formatted("q42_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"decontamination join de-broadcast (corpus-sized shuffle at 100 TB):\n$p")
    assert(!p.contains("SortMergeJoin"), s"decontamination join became SMJ:\n$p")
  }

  test("q48: stratified sampling is a ZERO-shuffle narrow filter") {
    val p = formatted("q48_stratified_sample")
    assert(!p.contains("Exchange"),
      s"md5 sampling filter grew a shuffle (must ride the scan at 100 TB):\n$p")
    assert(p.contains("[codegen id :"), s"sampling filter fell out of codegen:\n$p")
  }

  test("q49: domain quota keeps the WindowGroupLimit pushdown") {
    val p = formatted("q49_domain_quota")
    assert(p.contains("WindowGroupLimit"),
      s"quota rank<=k no longer prunes groups before the full sort:\n$p")
  }

  test("q55/q56: incremental maintenance stays on equi-joins, never nested-loop") {
    Seq("q55_snapshot_diff", "q56_incremental_merge").foreach { q =>
      val p = formatted(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q: the url-keyed diff/merge degenerated off the equi-join path:\n$p")
    }
  }

  test("q53: entity-card fact cap keeps the WindowGroupLimit pushdown") {
    val p = formatted("q53_entity_cards")
    assert(p.contains("WindowGroupLimit"),
      s"mega-entity fact cap no longer prunes groups before the full sort:\n$p")
  }

  test("q54: vocabulary topN plans as TakeOrdered, never a global sort+window") {
    val p = formatted("q54_vocab")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocabulary topN lost the TakeOrderedAndProject shape:\n$p")
    assert(!p.contains("Window"), s"vocabulary grew a window:\n$p")
  }

  test("q59: surprisal scoring joins the model broadcast; the corpus side never " +
      "shuffles to meet it") {
    val p = formatted("q59_surprisal")
    assert(p.contains("BroadcastHashJoin"),
      s"surprisal model join de-broadcast — corpus-side token shuffle at scale:\n$p")
    assert(!p.contains("SortMergeJoin"), s"surprisal scoring grew a sort-merge join:\n$p")
    assert(!p.contains("Window"), s"surprisal grew a window:\n$p")
  }

  test("q62: BPE counting stays on the native kernel — zero shuffle, opaque table") {
    val p = formatted("q62_bpe_tokens")
    assert(p.contains("bpe_count"),
      s"BPE counting fell off the native codegen kernel:\n$p")
    assert(!p.contains("Exchange"),
      s"BPE counting grew a shuffle (it is a pure narrow map):\n$p")
    // the whole projection must stay INSIDE whole-stage codegen: a lambda-based
    // column (higher-order filter = CodegenFallback) here would silently interpret
    // the entire scan-side stage — that is why n_ws uses wsTokenCount
    assert(p.contains("* Project"),
      s"q62 projection dropped out of whole-stage codegen:\n$p")
    // merge table must ride as ONE reference object, never a plan literal
    assert(df("q62_bpe_tokens").queryExecution.executedPlan.toString
      .contains("MergeRanks(n=60)"), "merge table not opaque in the plan")
  }

  test("q42/streaming flag: contamination probes carry no vocabulary-sized literal") {
    // the relational operator (q42) broadcast-joins; the per-row flag is guarded in
    // FunctionsSpec — here pin that the q42 plan keeps the broadcast shape
    val p = formatted("q42_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"decontamination lost the broadcast eval side:\n$p")
  }

  // ---- round-5 pins: the top-cost queries (r4 verdict Missing #1) ----

  test("q45: canonicalization is a zero-join narrow chain over a 1-column scan") {
    val p = formatted("q45_canonical_url")
    // the canonicalize chain itself is per-row (higher-order array_sort/filter put
    // the projection on the interpreted path — acceptable: the chain is regex-bound,
    // not eval-bound); what MUST hold at scale: no join, no window, pruned scan,
    // and only the distinct-aggregate's two exchanges (partial + merge)
    assert(!p.contains("Join") && !p.contains("Window"),
      s"q45 grew a join/window — it must stay a narrow per-row chain + one agg:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      s"q45 scan reads more than doc_id — column pruning lost:\n$p")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2,
      s"q45 grew a third exchange beyond the distinct-agg pair:\n$p")
  }

  test("q36: IVF codebook stays CAPPED (TakeOrdered) and BROADCAST") {
    val p = formatted("q36_ann_ivf")
    assert(p.contains("TakeOrderedAndProject"),
      s"q36 codebook cap (orderBy+limit maxCentroids) fell out of the plan — " +
        s"unbounded centroid set at scale:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"q36 codebook de-broadcast — the corpus would shuffle to meet centroids:\n$p")
    // the ONLY loop joins allowed are the two centroid-assignment passes (corpus ×
    // capped codebook, query × capped codebook), both BuildRight on the broadcast
    // codebook; the in-cell candidate join must stay an EQUI join (SMJ pre-AQE is
    // fine — AQE converts it at runtime when cells are small)
    assert("BroadcastNestedLoopJoin Inner BuildRight".r.findAllIn(p).size ==
      "\\(\\d+\\) BroadcastExchange".r.findAllIn(p).size,
      s"q36 grew a loop join that is NOT a codebook-assignment pass:\n$p")
    assert(!p.contains("CartesianProduct"), s"q36 grew a cartesian product:\n$p")
  }

  test("q44 interior: jaccardPairs blocks on shared shingles and reuses one exchange") {
    // q44 itself returns an eagerly-computed relation (adaptive CC); its scale shape
    // lives in the jaccard pair generator — pin it directly: shuffle_hash self-join
    // whose two posting subplans are IDENTICAL, capped postings (WindowGroupLimit),
    // no cross join; the posting pipeline is computed ONCE (ReusedExchange is an AQE
    // runtime decision → assert on the executed plan, the q24 idiom).
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val pairs = graft.dedup.Dedup.jaccardPairs(docs, "doc_id", "text",
      n = 4, minJaccardBp = 3000L, maxPosting = 1000)
    val p = pairs.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("ShuffledHashJoin"),
      s"jaccardPairs lost the shuffle_hash hint (SMJ would re-sort both sides):\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"jaccardPairs posting cap lost its group-limit pushdown:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"jaccardPairs grew an all-pairs join:\n$p")
    pairs.collect()
    val ep = pairs.queryExecution.executedPlan.toString
    assert(ep.contains("ReusedExchange"),
      s"jaccardPairs computes the shingle postings twice — ReusedExchange lost:\n$ep")
  }

  test("q30→q32: the statistics battery shares ONE persisted sentence pass") {
    // q30 and q32 are plans over SparkEntry's sentence fixture: building both must
    // create exactly one fixture (one persisted sentence Dataset), not one per query
    SparkEntry.clearFixtures()
    try {
      df("q30_pair_stats")
      assert(SparkEntry.fixtureCount === 1, "q30 did not register the shared sentence pass")
      df("q32_eval_scores")
      assert(SparkEntry.fixtureCount === 1,
        "q32 re-derived the sentence pass instead of reusing q30's fixture")
    } finally SparkEntry.clearFixtures()
  }
}
