package graft.util

import java.nio.file.{Files, Paths}

/**
 * Generates PLANS.md: the physical-plan evidence for the headline queries — scan
 * pushdown (PushedFilters + pruned ReadSchema), broadcast joins, whole-stage codegen
 * spans, shuffle counts — the "is this the plan you'd want at 100 TB" record.
 *
 * Usage: runMain graft.util.PlanDump [sfDir] [outFile]
 */
object PlanDump {

  private val picks: Seq[(String, String)] = Seq(
    "q01_scan_prune" ->
      """Filter + projection MUST reach the parquet scan: expect `PushedFilters:
        |[IsNotNull(l_returnflag), EqualTo(l_returnflag,R), ...]` and a ReadSchema of
        |only the 3 selected + filtered columns (not all 16 of lineitem).""",
    "q03_join_agg" ->
      """Two small dims joined to orders: expect BOTH joins as BroadcastHashJoin (no
        |shuffle of the fact side), one exchange total for the final groupBy.""",
    "q06_window_top1" ->
      """Per-group top-1: one shuffle on o_custkey, WindowGroupLimit pushes the
        |row_number filter below the sort (Spark 4 optimization) — no full sort of
        |every group.""",
    "q08_range_join" ->
      """Equi + range predicate: the equality term becomes the join key (hash join);
        |the range terms evaluate as join conditions — NOT a cartesian/BNLJ.""",
    "q19_jaccard_neardup" ->
      """Blocked near-dup: shuffle only on the shingle postings (capped per key), then
        |a shuffled hash join g=g; no O(N²) cross join anywhere in the plan.""",
    "q26_mention_count" ->
      """Native codegen gazetteer: `ahocorasick_matches` runs inside the WholeStageCodegen
        |span over the scan (look for the `*` project containing it), then one partial/final
        |aggregate pair.""",
    "q23_ann_lsh" ->
      """LSH-bucketed ANN: bucketing via the native `lsh_bucket` expression inside a
        |codegen'd project over the scan; candidates come from an equi-join on `bkt`
        |(broadcast query side) — never an O(Q·N) cross join; one window for top-k.""",
    "q24_cosine_neardup" ->
      """Embedding near-dup: `lsh_bucket` bucketing computed ONCE per table (expect a
        |ReusedExchange for the self-join's second side via the shuffle_hash hint),
        |bucket equi-join, then codegen'd qdot/qnorm scoring — no cross join.""",
    "q37_salted_agg" ->
      """Salted two-phase aggregation: the FIRST exchange partitions on
        |(source, __graft_salt) — a hot grouping key spreads over the salt buckets —
        |and the second (tiny, ≤ buckets rows per key) merge exchange partitions on
        |source alone. Both aggregates keep map-side partials; everything codegen'd.""",
    "q38_salted_join" ->
      """Salted fact×dim join: the dim side is replicated via an explode projection
        |(sequence literal — no shuffle multiplier), and the join stays an EQUI join on
        |(partkey, __graft_salt) — never a cartesian. At this SF the planner may
        |broadcast the replicated dim; at scale the same plan shape shuffles on the
        |salted key, which is the point.""",
    "q41_repetition" ->
      """Repetition quality: the native `repetition_stats` kernel inside one
        |WholeStageCodegen span over the scan — ZERO Exchange anywhere (the metrics are
        |per-row; the explode + double-shuffle formulation this replaced would ship
        |~tokens× the corpus through two shuffles).""",
    "q42_decontaminate" ->
      """Decontamination: the (tiny) eval-split shingle set broadcast —
        |BroadcastHashJoin against the corpus-side shingle explode, never a
        |SortMergeJoin — so the corpus side's only Exchange is the final per-doc
        |aggregate.""",
    "q43_link_embed" ->
      """Embedding-scored entity linking: within-block self-join on the block key via
        |shuffle_hash with IDENTICAL subplans (expect ReusedExchange on the second
        |side — quantize runs once), codegen'd qdot/qnorm cosine; no cross join.""",
    "q47_boilerplate" ->
      """Cross-doc boilerplate removal: line frequency = one HashAggregate pair keyed
        |by line (distinct doc set via partial agg), the small surviving boilerplate
        |set joins back as the anti-join's build side, and the per-doc rebuild sorts
        |(pos, line) structs INSIDE the aggregate — no global sort, no window.""",
    "q48_stratified_sample" ->
      """Deterministic stratified sampling: ONE WholeStageCodegen span over the scan —
        |the md5 rule is a Filter in the same stage, ZERO Exchange in the whole plan
        |(at 100 TB the sample rides the ingest scan at full speed).""",
    "q49_domain_quota" ->
      """Per-domain quota: one shuffle on the domain key, WindowGroupLimit prunes each
        |group to k rows before the full sort — a mega-domain never materializes more
        |than k winners per task.""",
    "q59_surprisal" ->
      """Unigram surprisal scoring: the (≤ topV rows) model joins BROADCAST against the
        |corpus-side token explode — the corpus never shuffles to meet the model; the
        |only corpus Exchanges are the doc-keyed aggregate and the model's own
        |token-keyed aggregate (map-side partials absorb Zipf skew).""",
    "q60_ntriples" ->
      """N-Triples export: ONE WholeStageCodegen span over the scan — the whole escape
        |chain is codegen'd replace columns, ZERO Exchange in the plan (the export
        |rides the store scan at full speed).""",
    "q62_bpe_tokens" ->
      """Trained-BPE counting: the native `bpe_count` kernel inside one
        |WholeStageCodegen span over the scan — ZERO Exchange (a pure narrow map),
        |and the 60-entry merge table rides as ONE opaque reference object
        |(`MergeRanks(n=60)`), never a plan literal.""",
    "q61_pos_labels" ->
      """POS labels over the real annotate path: scan → object flatMap (the
        |tokenizer/tagger kernel) — a single narrow stage, ZERO Exchange; at 100 TB
        |the tag pass rides the ingest scan like every other per-row annotator.""",
    "q45_canonical_url" ->
      """URL canonicalization (a top-5-cost query in r4): NO join, NO window, a
        |1-column pruned scan (`ReadSchema: struct<doc_id:bigint>`), and exactly the
        |distinct-aggregate's two exchanges. The canonicalize chain is per-row; its
        |higher-order array_sort/filter put the projection on the interpreted path —
        |acceptable (regex-bound, not eval-bound) and pinned as-is in PlansSpec.
        |r4's apparent 5.9x regression was adjudicated a host phase: identical plan
        |fingerprint, 1.26 s when re-measured (BASELINE.md round 5).""",
    "q36_ann_ivf" ->
      """IVF ANN (top-5-cost): the codebook is CAPPED (TakeOrderedAndProject =
        |orderBy+limit maxCentroids) and BROADCAST (BroadcastExchange) for both
        |assignment passes (the two sanctioned BroadcastNestedLoopJoins — corpus ×
        |codebook, query × codebook); the in-cell candidate join is an EQUI join on
        |the cell key (SMJ pre-AQE; AQE converts at runtime when cells are small).""",
    "q30_pair_stats" ->
      """Pair statistics as a plan over the persisted sentence fixture (shared with
        |q31/q32 and built once per session — pinned by PlansSpec "q30→q32"): both
        |inputs read it through InMemoryTableScan, never a second annotate pass.
        |Matches and gold spans meet in ONE url-keyed CoGroup (each page judged once,
        |per-doc cap 50 applied there); one pair-keyed exchange then folds the small
        |per-page counts. No join, no window.""")

  /** Queries whose plan is not dumped — q44 executes eagerly at build; q32's formatted
    * plan runs past 2,000 lines — their scale shapes are pinned by component in
    * PlansSpec and documented here. */
  private val componentNotes: Seq[(String, String)] = Seq(
    "q44_dedup_canon" ->
      """Composed dedup → canonical representative. Executes eagerly (adaptive CC);
        |plan evidence by component: the exact pass is q13's one 32-byte-key shuffle;
        |the candidate generator is jaccardPairs — pinned in PlansSpec ("q44
        |interior"): ShuffledHashJoin on the shingle key, WindowGroupLimit posting
        |cap, ReusedExchange (posting pipeline computed once), no cross join; CC runs
        |the one-task union-find below 2^20 edges (identical semantics) and the
        |two-phase-min large-star/small-star rounds above it — per-node state is O(1)
        |(no collect_set), pinned by ConnectedComponentsSpec's 10^5-degree-hub spec.
        |r4's 3.6x battery regression adjudicated: host phase + CC round-scheduling
        |floor at toy scale; with the adaptive path q44 ≈ 3.5 s at sf0.1.""",
    "q32_eval_scores" ->
      """Eval scoring as a plan over the same persisted sentence fixture as q30 (every
        |input — predicted spans, gold spans, corpus tokens — is a narrow flatMap of its
        |InMemoryTableScan; no second annotate pass). Entity hits are EQUI-joins on
        |(url, type, begin, end) after distinct; token units join on url with a
        |containment range; the entity and token rollups are keyed aggregates joined
        |on annot type. PlansSpec's every-query guard covers it: no unpartitioned
        |window, no condition-less join.""")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Sessions.local(8, "plan-dump")
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence for the headline operators\n\n")
    sb.append(s"Generated by `graft.util.PlanDump` over `$sfDir` (re-run after plan-affecting\n")
    sb.append("changes: `sbt \"runMain graft.util.PlanDump\"`). Each section: what the plan\n")
    sb.append("MUST show for the operator to be scale-correct, then the actual formatted plan.\n")

    // Plan strings can embed raw control bytes (e.g. the N-Triples escape chain's
    // \x00–\x1F replace literals) — rendered as \xNN so PLANS.md stays a text file
    // (git diffs it; a single NUL flips it to "binary").
    def sanitize(s: String): String = s.flatMap {
      case c if c == '\n' || c == '\t' => c.toString
      case c if c < 0x20 => f"\\x${c.toInt}%02x"
      case c => c.toString
    }
    picks.foreach { case (name, expectation) =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n")
      sb.append(expectation.stripMargin).append("\n\n```\n")
      sb.append(sanitize(formatted.trim)).append("\n```\n")
    }
    componentNotes.foreach { case (name, note) =>
      sb.append(s"\n## $name (component evidence)\n\n")
      sb.append(note.stripMargin).append("\n")
    }

    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"[plandump] wrote $outFile")
    graft.SparkEntry.clearFixtures()
    spark.stop()
  }
}
