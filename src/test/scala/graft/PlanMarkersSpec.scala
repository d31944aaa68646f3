package graft

/** Plan-shape regression net: PLANS.md records the headline physical
  * plans for review-time diffing, but a lost pushdown or a broadcast
  * turned shuffle should fail CI, not wait for a human to read a diff.
  * Each assertion here pins ONE load-bearing marker the scale story
  * depends on; the matching rationale lives in PLANS.md / SCALE.md.
  *
  * Markers are asserted on the pre-execution physical plan (the same
  * thing PLANS.md prints) — loose substring checks on node names, not
  * full plan text, so cosmetic Spark-version churn does not break them.
  */
class PlanMarkersSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The engine's session config (Sessions.build), not the bare test
    * session: the markers pin PRODUCTION plans, and one of them
    * (exchange reuse under ShardedPrefix) only holds with the engine's
    * documented `excludedRules` — InferFiltersFromConstraints inserts
    * derived filters into one join branch, making the two exchange
    * subtrees unequal and silently killing the reuse. */
  private lazy val engineSpark = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints," +
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    s
  }

  private def plan(name: String): String =
    Queries.all(name)(engineSpark, dir).queryExecution.executedPlan.toString

  test("q6_forecast: selective predicates reach the parquet scan") {
    val p = plan("q6_forecast")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
      "the shipdate/discount/quantity predicates must be pushed to the scan")
  }

  test("q5_region_join: tiny dimensions join as broadcasts, never sort-merge") {
    val p = plan("q5_region_join")
    assert(p.contains("BroadcastHashJoin"), "nation/region must broadcast")
  }

  test("q1_pricing_summary: partial+final aggregate pair around one exchange") {
    val p = plan("q1_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "map-side combine must shrink the exchange to O(groups)")
  }

  test("q3_top_orders: global top-k runs as TakeOrderedAndProject, not a full sort") {
    assert(plan("q3_top_orders").contains("TakeOrderedAndProject"))
  }

  test("url_canonicalize: a pure projection — no hash exchange anywhere") {
    val p = plan("url_canonicalize")
    assert(!p.contains("hashpartitioning"),
      "canonicalization must stay inside the scan's codegen span " +
        "(the only exchange is the final presentation orderBy)")
  }

  test("url_dedup: one map-side-combined aggregation on the canonical key") {
    val p = plan("url_dedup")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "the 4 spellings per page must collapse in the partial aggregate")
    assert(!p.contains("Window"), "no window: keep-min is an aggregate")
  }

  test("sample_quantiles: bottom-k sampling is the bounded aggregate + shuffle-hash join-back") {
    val p = plan("sample_quantiles")
    assert(p.contains("graft_topk"),
      "the bottom-k id pick must ride the graft_topk bounded aggregate")
    assert(p.contains("ShuffledHashJoin"),
      "the row join-back must be shuffle-hash: sort-merge would re-sort " +
        "the corpus the aggregate exists to keep unsorted")
    // the only windows left are quantilesOfSample's, over <= k sampled
    // rows per group — never the corpus hash stream
    assert(!p.contains("WindowGroupLimit"),
      "no rank-filter window may remain on the sampling path")
  }

  test("kmv_bottomk: bottom-k and the KMV threshold ride one bounded aggregate") {
    val p = plan("kmv_bottomk")
    assert(p.contains("ObjectHashAggregate") && p.contains("graft_topk"),
      "the bottom-k selection must be the graft_topk bounded aggregate")
    assert(!p.contains("Window"),
      "no window anywhere: h_k is the last element of the aggregate's " +
        "sorted array, so even the max-over-partition disappears")
  }

  test("quota_split: the per-stratum quota pick is the bounded aggregate") {
    val p = plan("quota_split")
    assert(p.contains("ObjectHashAggregate") && p.contains("graft_topk"),
      "the bottom-5 pick must be the graft_topk bounded aggregate")
    assert(!p.contains("Window"),
      "a mega-stratum would otherwise sort in one window partition")
  }

  test("decontaminate: the eval-suite side builds a broadcast") {
    assert(plan("decontaminate").contains("BroadcastHashJoin") ||
      plan("decontaminate").contains("BroadcastNestedLoopJoin") ||
      plan("decontaminate").contains("BroadcastExchange"),
      "the benchmark n-gram set must ship as a broadcast build side")
  }

  // ---- the round-9 window-skew sweep, pinned as CI invariants ----

  /** Every window in the plan must be sharded: a windowspecdefinition
    * partitioned only by a data-sized key ships a whole stratum to one
    * reducer at corpus scale. ShardedPrefix's windows all carry the
    * __shard column in their partition spec. */
  private def assertShardedWindows(name: String): Unit = {
    val lines = plan(name).split("\n").filter(_.contains("windowspecdefinition"))
    assert(lines.nonEmpty, s"$name is expected to use (sharded) windows")
    lines.foreach(l => assert(l.contains("__shard"),
      s"$name has a window not partitioned by __shard: $l"))
  }

  test("token_budget_mix: every window is range-sharded, never whole-source") {
    assertShardedWindows("token_budget_mix")
  }

  test("dsir_resample: doc-level windows sharded; only the weight histogram is global") {
    val lines = plan("dsir_resample").split("\n").filter(_.contains("windowspecdefinition"))
    assert(lines.exists(_.contains("__shard")),
      "the crossing-bucket admission must ride ShardedPrefix")
    lines.filterNot(_.contains("__shard")).foreach(l => assert(l.contains("wgt"),
      s"only the distinct-weight histogram window (metadata-sized input) " +
        s"may be unsharded, found: $l"))
  }

  test("token_budget_mix: the prefix-sum offsets REUSE the data exchange at runtime") {
    val df = Queries.all("token_budget_mix")(engineSpark, dir)
    df.collect() // AQE materializes exchange reuse only during execution
    assert(df.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      "the (group, shard) totals side must reuse the main exchange — a " +
        "re-run subtree would charge the scored input pipeline twice")
  }

  test("chunk_dedup: keep-first is a map-side-combinable aggregate, not a window") {
    assert(!plan("chunk_dedup").contains("Window"),
      "a keep-first window over the chunk-hash key would single-thread " +
        "every mega-duplicate chunk group")
  }

  test("label_spread: the majority vote is a min_by aggregate, not a rank window") {
    assert(!plan("label_spread").contains("Window"),
      "a rank window per node would single-thread high-degree nodes")
  }

  test("knn_graph: per-query ranking is the bounded aggregate, never a rank window") {
    val p = plan("knn_graph")
    assert(p.contains("ObjectHashAggregate") && p.contains("graft_topk"),
      "ANN ranking must ride the graft_topk bounded aggregate")
    assert(!p.contains("Window"),
      "a rank window over the candidate stream externally sorts the whole " +
        "probe mass at scale (measured: 17 GiB spilled at the 100x corpus)")
  }

  test("bm25_topk: per-query ranking is the bounded aggregate, never a rank window") {
    val p = plan("bm25_topk")
    assert(p.contains("ObjectHashAggregate") && p.contains("graft_topk"),
      "BM25 ranking must ride the graft_topk bounded aggregate")
    // the only windows allowed are the probe-term extraction's, which
    // partition by doc_id over a single document's own terms (bounded by
    // terms-per-doc); a window partitioned by query_id would sort a
    // query's whole candidate set — a large corpus fraction when a probe
    // term is common — in one task
    assert(!p.contains("windowspecdefinition(query_id"),
      "no window may partition by query_id: that sorts the candidate set")
  }

  test("span_dedup: the keep-first join-back is shuffle-hash, never sort-merge") {
    val p = plan("span_dedup")
    assert(p.contains("ShuffledHashJoin"), "join-back must be shuffle-hash")
    assert(!p.contains("SortMergeJoin"),
      "sort-merge would sort the full gram-occurrence table")
  }

  test("span_dedup: excise aggregates redundant STARTS, rebuilds by projection") {
    // the round-13 rewrite: the only reassembly aggregate is collect_set
    // of redundant gram starts (O(excised spans) state); the deduped text
    // comes back as an array_except projection over the original tokens.
    // A collect_list of token structs would mean the per-document
    // whole-token-list aggregate state that OOMed the 100x rehearsal.
    val p = plan("span_dedup")
    assert(!p.contains("collect_list(struct"),
      "no aggregate may hold a document's full token-struct list")
    assert(p.contains("array_except"),
      "kept positions must rebuild via array_except over the original tokens")
  }

  test("prefix-join capped sets: df-cap aggregates HEAVY members only") {
    // the round-13 cappedSets rewrite: collect only each doc's
    // over-the-cap shingles (inner join with the heavy side) and rebuild
    // the capped set via array_except. The former shape — anti-join the
    // occurrence stream, re-collect every doc's WHOLE set — held full
    // documents as aggregate state; its plan signature was a LeftAnti
    // join feeding the collect. Since r20 the fixed-knob prefix joins
    // truncate the sets lineage before fanning out (Lineage.truncate), so
    // these markers are pinned on the sets-builder plan itself — the
    // chain every prefix join's checkpoint job executes — rather than on
    // the (now checkpoint-rooted) full query plans.
    val docs = Tables.load(engineSpark, dir, "documents")
    val p = graft.dedup.Jaccard
      .cappedSets(docs, "doc_id", "text", maxDf = 2000L)
      .queryExecution.executedPlan.toString
    assert(p.contains("array_except"),
      "capped sets must rebuild via array_except of the heavy members")
    assert(!p.contains("LeftAnti"),
      "an anti-join feeding the re-collect means whole-set aggregate state")
  }

  test("jaccard_ppjoin: verification is shuffle-hash") {
    val p = plan("jaccard_ppjoin")
    // round-14: verification attaches full shingle arrays via
    // shuffle-hash builds on the sets side — SMJ would externally sort
    // the array-carrying candidate stream (the 133 GiB 100x spill)
    assert(p.contains("ShuffledHashJoin"),
      "set verification must build shuffle-hash on the sets side")
  }

  test("containment_ppjoin: sibling collapse engaged; verification is shuffle-hash") {
    val p = plan("containment_ppjoin")
    // the r17-adjudicated knob pin (collapseSiblings = true): the
    // set-identity collapse rides a window over the set fingerprint
    // (__fp = xxhash64(__set)) — losing it re-exposes the measured
    // 34-58x sibling-heavy blowup (BENCHSCALE r17: collapse=off read
    // 428-588 s vs 10-13 s collapsed on the 500k sibling corpus)
    assert(p.contains("__fp"),
      "the set-identity collapse (its __fp fingerprint window) must be in the plan")
    // the capped-sets chain markers (array_except, no LeftAnti) moved to
    // the shared sets-builder pin above: the chain sits above this
    // query's lineage truncation since r20
    assert(p.contains("ShuffledHashJoin"),
      "set verification must build shuffle-hash on the sets side")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "no sort or cross product may touch the array-carrying streams")
  }

  test("subset_ppjoin: lean direction-aware plan; verification is shuffle-hash") {
    val p = plan("subset_ppjoin")
    // the documented knob pick for this corpus (collapseSiblings = false,
    // Queries.subsetPpjoin scaladoc): no collapse window — an accidental
    // default flip shows up as __fp appearing here
    assert(!p.contains("__fp"),
      "subset_ppjoin pins the PLAIN plan: no set-identity collapse window")
    // capped-sets chain markers: see the shared sets-builder pin above
    assert(p.contains("ShuffledHashJoin"),
      "containment verification must build shuffle-hash on the sets side")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "no sort or cross product may touch the array-carrying streams")
  }

  test("corpus_curate_best: text-carrying joins are shuffle-hash, never sort-merge") {
    val p = plan("corpus_curate_best")
    assert(p.contains("ShuffledHashJoin"),
      "member/score/anti joins must build shuffle-hash on the bounded side")
    assert(!p.contains("SortMergeJoin"),
      "sort-merge would sort corpus text against the membership slivers")
  }
}
