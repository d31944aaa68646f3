package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact Jaccard-threshold pair search with prefix filtering (the
  * AllPairs/PPJoin family) — the scale path for "all pairs of documents
  * with shingle-set Jaccard >= t".
  *
  * Candidate generation joins only each document's PREFIX: its
  * `|A| - ceil(t*|A|) + 1` rarest shingles under a consistent global order
  * (corpus frequency, ties by value). Completeness: a qualifying pair has
  * `|A∩B| >= ceil(t*|A|)`, so the intersection cannot fit inside the
  * suffix of either side, and the globally-smallest shared shingle
  * therefore sits inside BOTH prefixes — the equi-join finds every
  * qualifying pair. Verification then computes the exact intersection per
  * candidate with array_intersect over the full sets.
  *
  * Versus the naive exploded self-join + count, the join touches ~(1-t) of
  * the exploded rows and — because prefixes are the RAREST shingles — the
  * hot shingle buckets that drive the quadratic blowup are exactly the
  * ones pruned. At a 0.8 threshold that is a ~5x smaller join input and a
  * candidate set close to the true result size.
  *
  * Shingle sets come from the graft_shingles kernel ([[cappedSets]]), so
  * every entry point needs a session with
  * [[graft.catalyst.GraftExtensions]] (`graft.Sessions.build`).
  */
object Jaccard {

  /** Distinct 3-gram shingle sets per id, optionally redefined as
    * {x : df(x) <= maxDf} (the stop-shingle guard). Shared by the
    * prefix-filtered Jaccard and containment joins: (__id, __set) with
    * __set sorted and non-empty. (private[graft], not [dedup]: the
    * plan-marker pins that used to read this chain off the full query
    * plan assert on it directly now that [[pairs]]/[[Containment.pairs]]
    * truncate the lineage above the downstream consumers.) */
  private[graft] def cappedSets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDf: Long): DataFrame = {
    val raw = MinHash.withShingles(df, idCol, textCol)
      .select(col(idCol).as("__id"), array_distinct(col("__sh")).as("__set"))
      .filter(size(col("__set")) > 0)
    if (maxDf == Long.MaxValue) raw
    else {
      // redefine each set as {x : df(x) <= maxDf} with a heavy-shingle
      // anti-join, NOT a count window: the df aggregate partial-combines
      // map-side (the stop-shingle the cap exists for would otherwise
      // ship every one of its occurrences to a single window partition
      // and buffer them there), and the join build side holds only the
      // shingles ABOVE the cap — at most occurrences/maxDf distinct
      // values, so for any production-sized cap it broadcasts (AQE picks
      // that up from the runtime size; no hint, because a tiny maxDf can
      // legitimately make the heavy set corpus-scale)
      val occ = raw.select(col("__id"), explode(col("__set")).as("__x"))
      val heavy = occ.groupBy(col("__x"))
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxDf)
        .select(col("__x"))
      // Aggregate only each doc's HEAVY members (few — boilerplate
      // shingles; clean docs contribute no rows) and rebuild the capped
      // set from the per-row array with array_except. The former shape —
      // anti-join the occurrence stream, re-collect every doc's whole
      // set — held every document's full shingle list as hash-aggregate
      // state, which under the session's graft_topk-sized fallback
      // threshold OOMed the 100x rehearsal; this aggregate's state is
      // bounded by the doc's heavy-shingle count instead.
      val removed = occ.join(heavy, Seq("__x"))
        .groupBy(col("__id"))
        .agg(collect_list(col("__x")).as("__rm"))
      raw.join(removed, Seq("__id"), "left")
        .select(col("__id"),
          array_sort(array_except(col("__set"),
            coalesce(col("__rm"), expr("CAST(array() AS array<bigint>)"))))
            .as("__set"))
        .filter(size(col("__set")) > 0)
    }
  }

  /** Collapse set-identical documents before candidate generation:
    * (reps, membership), where `reps` holds ONE row per distinct capped
    * shingle set — (__id, __set), keyed by the group's smallest member id
    * — and `membership` maps every input doc to its group:
    * (__rep, __id, __m, __n) with __m the group size and __n the set
    * size.
    *
    * Why: PPJoin's candidate pruning is powerless against documents whose
    * capped sets are IDENTICAL (template pages, boilerplate-only docs,
    * mirrored dumps): every member of an m-sibling group shares its whole
    * prefix, so candidate generation emits C(m,2) pairs and verification
    * intersects the full sets C(m,2) times — the round-12 100x rehearsal
    * hit exactly this shape when a salt collision made ~90-sibling
    * identical-set clusters (~20M manufactured pairs), and real template
    * families reproduce it legitimately. Running the join over one
    * representative per distinct set makes the candidate mass a function
    * of DISTINCT content; identical-set pairs are known without
    * verification (Jaccard/containment = 10000 bp by construction) and
    * cross-group pairs expand by membership with the rep-level score
    * (set-identical docs have identical scores against any other set).
    * Measured: TemplateRehearsal (BENCHSCALE.md round 14) on planted
    * identical-set families.
    *
    * Exactness: grouping compares the FULL sorted set (the xxhash64
    * fingerprint only leads the sort so group boundaries resolve on a
    * long, not an array compare) — no fingerprint-collision exposure.
    * Both outputs ride one window over (__fp, __set): sort-based, so it
    * spills gracefully instead of holding per-set aggregate state (the
    * object-hash fallback hazard this module was rebuilt around). */
  private[dedup] def collapse(sets: DataFrame): (DataFrame, DataFrame) = {
    val w = Window.partitionBy(col("__fp"), col("__set"))
    val tagged = sets
      .withColumn("__fp", xxhash64(col("__set")))
      .withColumn("__rep", min(col("__id")).over(w))
      .withColumn("__m", count(lit(1)).over(w))
    val reps = tagged.filter(col("__id") === col("__rep"))
      .select(col("__id"), col("__set"))
    val membership = tagged.select(
      col("__rep"), col("__id"), col("__m"),
      size(col("__set")).cast(LongType).as("__n"))
    (reps, membership)
  }

  /** `collapseSiblings = false` skips the set-identity collapse (and its
    * one extra corpus window + the membership expansion joins) — for
    * corpora KNOWN to carry no set-identical documents, where the
    * collapse is pure overhead. Results are identical either way
    * (spec-pinned); the default keeps the collapse on because template
    * families are the norm, not the exception, in crawl corpora. */
  /** Expand rep-level pairs by group membership — the shared tail of the
    * collapsed pair joins ([[pairs]], [[Containment.pairs]]). Within a
    * group every unordered member pair is emitted directly with
    * `withinPayload` (identical sets — Jaccard/containment = 10000 bp by
    * construction, no verification); across groups each rep pair's
    * `payload` columns apply verbatim to every member pair (set-identical
    * docs score identically against any other set). `withinPayload` may
    * reference the group's set size as `ma.__n`. */
  private[dedup] def expandByMembership(
      repPairs: DataFrame,
      membership: DataFrame,
      payload: Seq[String],
      withinPayload: Seq[Column]): DataFrame = {
    val multi = membership.filter(col("__m") > 1)
    val within = multi.as("ma")
      .join(multi.as("mb"),
        col("ma.__rep") === col("mb.__rep") && col("ma.__id") < col("mb.__id"))
      .select(Seq(col("ma.__id").as("id_1"), col("mb.__id").as("id_2")) ++
        withinPayload: _*)
    val cross = repPairs
      .join(membership.as("m1"), col("id_1") === col("m1.__rep"))
      .join(membership.as("m2"), col("id_2") === col("m2.__rep"))
      .select(Seq(
        least(col("m1.__id"), col("m2.__id")).as("id_1"),
        greatest(col("m1.__id"), col("m2.__id")).as("id_2")) ++
        payload.map(col): _*)
    cross.unionAll(within)
  }

  /** All pairs with floor(10000*|A∩B|/|A∪B|) >= minBp over 3-gram shingle
    * sets of `textCol`. Output: (id_1, id_2, jaccard_bp), id_1 < id_2.
    *
    * `maxDf` caps shingle document frequency: shingles present in more than
    * `maxDf` documents are dropped from the sets before anything else runs
    * (the standard stop-shingle guard — a single corpus-wide boilerplate
    * shingle otherwise turns the equi-join into a full quadratic shuffle on
    * one key). With the cap above the corpus max df the filter passes
    * everything and the result is the unfiltered exact answer.
    *
    * Eager: building this DataFrame runs one corpus-scale Spark job that
    * checkpoints the capped sets through [[graft.Lineage.truncate]], so
    * predicates applied to the result do not push below the sets build
    * (filter the input instead). Cluster callers should set a checkpoint
    * dir so the sets land on reliable storage, not executor memory. */
  def pairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minBp: Long,
      maxDf: Long = Long.MaxValue,
      collapseSiblings: Boolean = true): DataFrame = {
    require(minBp >= 1 && minBp <= 10000, "minBp in [1, 10000]")
    // Truncate the capped-sets lineage before fanning out (guide §5): the
    // sets frame feeds the collapse window, the prefix/rank explode, and
    // BOTH verification build sides, and only SOME of those consumers meet
    // at a reusable exchange — the rest re-run the scan + shingle kernel +
    // cap chain (measured: 2-5 full kernel passes per query at sf0.1, plus
    // the optimizer re-planning the replicated lineage each time). One
    // eager materialization makes every consumer read the (compact:
    // id + shingle array) sets frame instead.
    pairsFromSets(graft.Lineage.truncate(cappedSets(df, idCol, textCol, maxDf)),
      minBp, collapseSiblings)
  }

  /** ONE aggregate over a sets frame returns everything the auto
    * dispatches ([[pairsAuto]], [[Containment.pairsAuto]],
    * [[Containment.subsetsAuto]]) decide on: (nDocs, pairMass), where
    * nDocs counts docs with a non-empty set (docs with an empty set can
    * pair with nothing) and pairMass is the within-group pair count
    * Σ C(m,2) over set-identical sibling groups — the EXACT number of
    * manufactured pairs an uncollapsed prefix join would generate and
    * verify for free content. The collapse dispatch compares pairMass
    * against nDocs, not "any sibling exists": a corpus sprinkled with
    * duplicate PAIRS (every crawl snapshot; the sf0.1 documents table
    * carries 8) is harmlessly linear through the lean plans, while
    * template FAMILIES (m-sibling groups, quadratic in m) are exactly
    * what pairMass measures. Grouping by the set hash, not the set: a
    * collision only merges distinct sets, overstating pairMass — errs
    * toward collapsing, the safe side. */
  private[dedup] def probeSets(sets: DataFrame): (Long, Long) = {
    val r = sets.groupBy(xxhash64(col("__set")).as("__h")).agg(count(lit(1)).as("__c"))
      .agg(coalesce(sum(col("__c")), lit(0L)),
        coalesce(sum(expr("__c * (__c - 1)")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1) / 2)
  }

  /** Corpus-size bound under which the lean dispatches probe the CHEAP
    * uncapped sets (one map-only shingling pass — no df-count aggregate,
    * no heavy-shingle anti-join, measured 3x cheaper than the capped
    * probe at sf0.1 and the difference grows with the cap machinery's
    * exchanges). Soundness: removing capped shingles only MERGES sets,
    * so uncapped pairMass is a LOWER bound on capped pairMass — a hazard
    * the cheap probe shows is real, but a clean read can miss groups
    * that become identical only after df-capping (docs differing solely
    * in heavy boilerplate). Below this bound a missed family is bounded
    * by the corpus (C(m,2) <= C(n,2) verification pairs of a small n —
    * seconds, not the 100x-blowup class), so the cheap read is trusted;
    * at or above it the lean probe goes STRAIGHT to the exact capped
    * sets — one probe pass either way, whose linear cost at that scale
    * is noise against the superlinear join it steers. maxDf = MaxValue
    * makes the cheap probe exact at any size. */
  private[dedup] val CappedProbeMinDocs = 20000L

  /** The lean dispatches' probe staging: the caller's `nRows` (a raw
    * `count()` — a cheap UPPER BOUND on the non-empty-set count, used
    * only to pick the probe target) stages ONE [[probeSets]] pass over
    * the uncapped sets (small corpus, or an inert cap — trusted/exact)
    * or the capped sets (large corpus with a real cap — exact where a
    * wrong dispatch is expensive); see [[CappedProbeMinDocs]]. Returns
    * the probe's full (nDocs, pairMass) — nDocs is the probed frame's
    * non-empty-set count, the dispatch measure shared with materialize
    * mode. */
  private[dedup] def hazardProbe(
      nRows: Long, mkSets: Long => DataFrame, maxDf: Long): (Long, Long) = {
    val cap =
      if (maxDf == Long.MaxValue || nRows < CappedProbeMinDocs) Long.MaxValue
      else maxDf
    probeSets(mkSets(cap))
  }

  /** Shared candidate-generation scaffolding of every prefix-filtered
    * join ([[pairsFromSets]], [[Containment]]'s three bodies):
    * (exploded rows, position-ranked rows, rarity-ordered prefix rows)
    * over one reused exchange on the shingle. `ranked` and `prefix`
    * carry each shingle's per-set POSITION `__rn` under the global
    * (corpus frequency asc, value asc) order — the positional filter's
    * input. The prefix length `n - ceil(t*n) + 1` is exact in integer
    * arithmetic: ceil(minBp*n/10000) = floor((minBp*n + 9999)/10000).
    * This formula and the order are completeness-critical and live ONLY
    * here. */
  private[dedup] def explodedAndPrefix(
      sets: DataFrame, minBp: Long): (DataFrame, DataFrame, DataFrame) = {
    val exploded = sets
      .select(col("__id"), size(col("__set")).as("__n"), explode(col("__set")).as("__x"))
      .repartition(col("__x"))
    val freq = exploded.groupBy(col("__x")).agg(count(lit(1)).as("__f"))
    val ranked = exploded
      .join(freq, "__x")
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col("__id")).orderBy(col("__f"), col("__x"))))
      .select(col("__id"), col("__n").cast(LongType).as("__n"), col("__x"),
        col("__rn").cast(LongType).as("__rn"))
    val prefix = ranked
      .filter(col("__rn") <= col("__n") - floor((col("__n") * minBp + 9999) / 10000) + 1)
    (exploded, ranked, prefix)
  }

  /** PPJoin's positional overlap UPPER BOUND at a candidate join row
    * over frames aliased `a`/`b`: at the pair's first shared prefix
    * shingle (positions i, j under the one global order) every other
    * common shingle lies after BOTH, so overlap <= 1 + min(|A|-i,
    * |B|-j). Completeness: rows for LATER shared shingles may fail a
    * threshold on this bound spuriously, but the first-match row always
    * survives — callers need only feed the distinct(). The bound lives
    * ONLY here; each join compares it against its own threshold
    * arithmetic (Jaccard / min-denominator / later-denominator). */
  private[dedup] def positionalOverlapBound: Column =
    lit(1L) + least(col("a.__n") - col("a.__rn"), col("b.__n") - col("b.__rn"))

  /** [[pairs]] body over a pre-built capped sets frame — the seam the
    * auto dispatches share with their sibling probe, so probing and the
    * chosen plan traverse ONE shingling lineage (persisted by the
    * caller), never two. */
  private[dedup] def pairsFromSets(
      capped: DataFrame,
      minBp: Long,
      collapseSiblings: Boolean): DataFrame = {
    val (sets, membership) =
      if (collapseSiblings) {
        val (r, m) = collapse(capped); (r, Some(m))
      } else (capped, None)
    val (_, _, prefix) = explodedAndPrefix(sets, minBp)
    // Candidate pruning beyond prefix membership — both PPJoin filters,
    // evaluated inside the join so pruned pairs never reach the distinct:
    //  - LENGTH: J >= t forces |A∩B| >= t*max(|A|,|B|) and |A∩B| <=
    //    min(|A|,|B|), so min*10000 >= minBp*max or the pair can't
    //    qualify.
    //  - POSITIONAL: a qualifying pair's globally-smallest common shingle
    //    sits in BOTH prefixes (the prefix-filter completeness argument),
    //    so the join matches it; at that row every other common shingle
    //    lies after position i in A and after j in B (per-set lists share
    //    the one global order), bounding the overlap by
    //    1 + min(|A|-i, |B|-j). J >= t needs overlap >=
    //    ceil(t*(|A|+|B|)/(1+t)) — cross-multiplied by (10000+minBp) to
    //    stay in exact integer arithmetic. Rows for LATER shared prefix
    //    shingles may fail the bound spuriously, but completeness only
    //    needs the first-match row to survive into the distinct.
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.__x") === col("b.__x") && col("a.__id") < col("b.__id") &&
          least(col("a.__n"), col("b.__n")) * 10000L >=
            greatest(col("a.__n"), col("b.__n")) * minBp &&
          positionalOverlapBound * (10000L + minBp) >=
            (col("a.__n") + col("b.__n")) * minBp)
      .select(col("a.__id").as("id_1"), col("b.__id").as("id_2"))
      .distinct()
    // verification: shuffle-hash, never sort-merge — the probe side is
    // candidate pairs carrying a full shingle array after the first
    // attach, and SMJ would externally sort that mass (measured 133 GiB
    // of sort spill at the 100x sibling-heavy rehearsal); SHJ builds on
    // the bounded sets partition and STREAMS the wide probe rows
    val repPairs = cand
      .join(sets.as("sa").hint("shuffle_hash"), col("id_1") === col("sa.__id"))
      .join(sets.as("sb").hint("shuffle_hash"), col("id_2") === col("sb.__id"))
      .select(
        col("id_1"), col("id_2"),
        size(array_intersect(col("sa.__set"), col("sb.__set"))).cast(LongType).as("inter"),
        (size(col("sa.__set")) + size(col("sb.__set"))).cast(LongType).as("szsum"))
      .withColumn("jaccard_bp",
        floor(col("inter").cast(DoubleType) * 10000d /
          (col("szsum") - col("inter")).cast(DoubleType)).cast(LongType))
      .filter(col("jaccard_bp") >= minBp)
      .select("id_1", "id_2", "jaccard_bp")
    membership match {
      case None => repPairs
      case Some(mem) =>
        expandByMembership(repPairs, mem, payload = Seq("jaccard_bp"),
          withinPayload = Seq(lit(10000L).as("jaccard_bp")))
    }
  }

  /** The direct exploded self-join formulation — the result-identical twin
    * of [[pairs]] without the prefix machinery (no frequency aggregate, no
    * ranking window). Intersections come straight from counting shared
    * shingles in the self-join, so on a SMALL corpus it is cheaper than
    * paying PPJoin's fixed costs; its join input is the full exploded rows,
    * so hot shingles expose it to the quadratic term the prefix filter
    * exists to prune — [[pairsAuto]] draws the line. */
  def pairsDirect(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minBp: Long,
      maxDf: Long = Long.MaxValue): DataFrame = {
    require(minBp >= 1 && minBp <= 10000, "minBp in [1, 10000]")
    pairsDirectFromSets(cappedSets(df, idCol, textCol, maxDf), minBp)
  }

  /** [[pairsDirect]] body over a pre-built capped sets frame — the seam
    * that lets [[autoDispatch]] run its direct branch off the SAME sets
    * frame its probe just traversed (one shingling lineage either way). */
  private[dedup] def pairsDirectFromSets(sets: DataFrame, minBp: Long): DataFrame = {
    val exploded = sets
      .select(col("__id"), explode(col("__set")).as("__x"))
      .repartition(col("__x"))
    val sizes = sets.select(col("__id"), size(col("__set")).cast(LongType).as("__n"))
    exploded.as("a")
      .join(exploded.as("b"), col("a.__x") === col("b.__x") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_1"), col("b.__id").as("id_2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("na"), col("id_1") === col("na.__id"))
      .join(sizes.as("nb"), col("id_2") === col("nb.__id"))
      .withColumn("jaccard_bp",
        floor(col("inter").cast(DoubleType) * 10000d /
          (col("na.__n") + col("nb.__n") - col("inter")).cast(DoubleType)).cast(LongType))
      .filter(col("jaccard_bp") >= minBp)
      .select("id_1", "id_2", "jaccard_bp")
  }

  /** Default corpus-size crossover for [[pairsAuto]]: below this many
    * documents the direct self-join's smaller constant beats PPJoin's
    * pruning (measured at sf0.1/10x: the direct form wins by ~2x at 5k
    * docs and loses 20x at 50k — see BENCHSCALE.md). */
  val DirectMaxDocs = 20000L

  /** Size-dispatched exact pair search: [[pairsDirect]] for corpora up to
    * `directMaxDocs` input documents, [[pairs]] (prefix-filtered PPJoin)
    * above — where the sibling probe ([[probeSets]] via [[hazardProbe]])
    * additionally decides the set-identity collapse: on when the
    * within-group pair mass Σ C(m,2) exceeds the corpus size (the
    * template-family hazard — quadratic manufactured pairs), off for
    * corpora whose duplicates are a sprinkling of pairs (the collapse
    * window + membership expansion are pure overhead there — measured
    * 2.20 vs 1.45 s warm on the sf0.1 containment twin, whose 8
    * duplicate pairs are harmless). At prefix scale the probe is linear
    * noise; below `directMaxDocs` no window runs at all. Every
    * combination passes the identical oracle; the dispatch trades
    * PPJoin's fixed cost (frequency aggregate + rarity ranking window)
    * against the direct join's quadratic hot-shingle exposure.
    *
    * Cost of the convenience (BENCHSCALE round 16): the default
    * materialize mode persists the capped sets frame across the exact
    * probe and the chosen plan, so the probe's shingling pass is the SAME
    * pass the plan reads from cache — measured at or below the fixed
    * plans' own times on both corpora (sf0.1 warm 1.57 s vs 1.71/2.19
    * fixed; 100x 26.4 s vs 22.9-32.3 fixed). `materialize = false` is
    * the lazy-plan escape hatch (plan inspection, callers managing their
    * own caching): one `count()` (probe staging only) plus ONE probe
    * pass — the cheap uncapped sets below [[CappedProbeMinDocs]], the
    * exact capped sets above ([[hazardProbe]]) — persisting and
    * checkpointing nothing, with the returned plan recomputing the
    * shingling lineage per traversal. Materialize doubles as the
    * expensive-upstream discipline (the curate pipeline's cleaned/gated
    * frame): probe and plan compute the upstream ONCE, the result is
    * materialized via [[graft.Lineage.truncate]] while the cache is
    * live (reliably when the session has a checkpoint dir), and the
    * cache is RELEASED before returning — in a long-lived session the
    * corpus-sized blocks never accumulate. Callers who KNOW their corpus
    * shape should call [[pairs]] with the collapse knob directly. A
    * caller-persisted input is caller-managed: it is read, never
    * unpersisted. */
  def pairsAuto(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minBp: Long,
      maxDf: Long = Long.MaxValue,
      directMaxDocs: Long = DirectMaxDocs,
      materialize: Boolean = true): DataFrame = {
    // validate here, not in the branch bodies: the direct branch runs
    // the require-less FromSets seam, and an out-of-range threshold must
    // throw rather than silently return an empty (or all-pairs) frame
    require(minBp >= 1 && minBp <= 10000, "minBp in [1, 10000]")
    autoDispatch(df, directMaxDocs, materialize, maxDf)(
      mkSets = (input, cap) => cappedSets(input, idCol, textCol, cap),
      directFromSets = sets => pairsDirectFromSets(sets, minBp),
      fromSets = (sets, collapse, _) => pairsFromSets(sets, minBp, collapse))
  }

  /** Shared dispatch of [[pairsAuto]] and [[Containment.pairsAuto]]:
    * probe, then hand the capped sets frame to the branch the numbers
    * pick — the direct body at or below `directMaxDocs` docs, else the
    * prefix body with the collapse chosen by the sibling pair mass
    * (`fromSets(sets, collapse, nDocs)` — nDocs lets the containment
    * bodies place their positional crossover). In materialize mode (the
    * default) the capped sets frame is persisted so the exact probe and
    * the chosen plan compute the lineage once, the result is
    * materialized through [[graft.Lineage.truncate]] (a reliable
    * checkpoint when the session has a checkpoint dir) while the cache
    * is live, and the cache is released before returning. The lean mode
    * runs the staged [[hazardProbe]] against the raw lineage — ONE cheap
    * extra traversal per call — and returns the lazy plan, persisting
    * nothing. Caller-persisted inputs are never touched. BOTH modes key the dispatch on the probe's
    * non-empty-set count (docs with an empty set can pair with nothing);
    * lean mode's raw `count()` only stages the probe target, so near
    * `directMaxDocs` the two modes pick the same plan for corpora whose
    * empty sets are empty BEFORE df-capping. One residual divergence
    * window: below [[CappedProbeMinDocs]] with an active `maxDf`, lean's
    * cheap probe runs over UNCAPPED sets while materialize probes capped
    * sets, so a doc whose set empties only under capping counts toward
    * lean's nDocs but not materialize's — near `directMaxDocs` the two
    * modes can then pick different (result-identical) plans. Lean mode
    * also short-circuits at or below `directMaxDocs` raw rows: the
    * non-empty count can only be <= the raw count (monotonicity), so the
    * probe cannot flip the pick there and is skipped entirely. */
  private[dedup] def autoDispatch(
      df: DataFrame,
      directMaxDocs: Long,
      materialize: Boolean,
      maxDf: Long)(
      mkSets: (DataFrame, Long) => DataFrame,
      directFromSets: DataFrame => DataFrame,
      fromSets: (DataFrame, Boolean, Long) => DataFrame): DataFrame = {
    def choose(sets: DataFrame, nDocs: Long, pairMass: Long): DataFrame =
      if (nDocs <= directMaxDocs) directFromSets(sets)
      else fromSets(sets, pairMass > nDocs, nDocs)
    if (!materialize) {
      val nRows = df.count()
      // nDocs (non-empty sets) <= nRows, so at or below the direct cap
      // the probe cannot change the dispatch — skip its shingling pass.
      if (nRows <= directMaxDocs) directFromSets(mkSets(df, maxDf))
      else {
        val (nDocs, pairMass) = hazardProbe(nRows, cap => mkSets(df, cap), maxDf)
        choose(mkSets(df, maxDf), nDocs, pairMass)
      }
    } else {
      val sets = mkSets(df, maxDf)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val (nDocs, pairMass) = probeSets(sets)
        graft.Lineage.truncate(choose(sets, nDocs, pairMass))
      } finally sets.unpersist(blocking = false)
    }
  }
}
