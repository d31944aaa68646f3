package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Prefix-filtered containment joins — the scale path for the asymmetric
  * "short document quoted inside a long one" family, where symmetric
  * Jaccard prefix filtering ([[Jaccard.pairs]]) does not directly apply
  * because the denominator is one side's set, not the union.
  *
  * The filter generalizes: for overlap `inter >= ceil(t * n_c)` where
  * `n_c` is the size of the CONSTRAINED side's set C, any
  * `ceil(t*n_c)`-subset of C must intersect C's prefix of length
  * `n_c - ceil(t*n_c) + 1` under any fixed per-set order (pigeonhole: the
  * suffix has only `ceil(t*n_c) - 1` elements). So joining C's prefix
  * against the OTHER side's full token list finds every qualifying pair —
  * the join input drops from full x full (df^2 per shingle) to
  * full x prefix (df x df_prefix), and ordering prefixes by global shingle
  * rarity (corpus frequency asc, value asc — same order as
  * [[Jaccard.pairs]]) makes the retained prefix tokens precisely the rare
  * ones, collapsing the hot-shingle buckets that drive the quadratic term.
  *
  * Which side is constrained differs per operator:
  *   - [[pairs]] (min-denominator containment): the SMALLER set is the
  *     denominator, so orient each unordered pair by (set size, id) and
  *     probe with the smaller side's prefix.
  *   - [[subsets]] (directional, later-doc denominator): the LATER doc's
  *     set is the denominator regardless of size. With the sibling
  *     collapse ON the candidate join runs over set REPRESENTATIVES,
  *     whose ids say nothing about their members' earlier/later order,
  *     so it uses the MIN-denominator orientation above — a superset of
  *     the later-denominator qualifiers (see the in-function proof) —
  *     and each direction's threshold applies during membership
  *     expansion. With the collapse OFF the direction is known at
  *     candidate time and the lean plan probes with the LATER doc's
  *     prefix directly ([[subsetsPlain]]).
  *
  * Verification is exact in both: candidates re-join the full (df-capped)
  * sets and compute the true intersection with array_intersect, so the
  * output is identical to the direct co-occurrence plan — both are pinned
  * by the same DuckDB oracle.
  *
  * Shingle sets come from the graft_shingles kernel ([[Jaccard.cappedSets]]),
  * so every entry point needs a session with
  * [[graft.catalyst.GraftExtensions]] (`graft.Sessions.build`).
  */
object Containment {

  /** Corpus-size crossover above which the auto entries ([[pairsAuto]],
    * [[subsetsAuto]]) turn the positional candidate filter on. The
    * filter's price is LINEAR — ranking the full probe side costs one
    * extra window execution over the reused shingle exchange — while its
    * payoff scales with candidate mass, which grows superlinearly on
    * sibling-heavy corpora. Measured endpoints (BENCHSCALE rounds 15/16):
    * at the 500k-doc blowup corpus the filter is worth -13% wall / -31%
    * spill on the subsets plan and -16% wall on pairs; at the 5k-doc
    * sf0.1 corpus the window costs more than it prunes (+0.1-0.7s warm).
    * The fixed-knob entries keep their own defaults ([[pairs]] on,
    * [[subsets]] off) — this constant only steers the probes. */
  val PositionalMinDocs = 100000L

  /** Shared candidate-generation scaffolding — ONE owner for the
    * completeness-critical prefix-length formula and rarity order:
    * [[Jaccard.explodedAndPrefix]]. A positional probe target uses
    * `ranked` (one extra window execution over a reused exchange); a
    * membership-only probe target uses the cheaper `exploded`. */
  private def explodedAndPrefix(
      sets: DataFrame, minBp: Long): (DataFrame, DataFrame, DataFrame) =
    Jaccard.explodedAndPrefix(sets, minBp)

  /** Min-denominator candidate generation shared by [[pairs]] and
    * [[subsets]]: probe = the (size, id)-smaller side of each unordered
    * pair — min(|A|,|B|) is its size, so its prefix is the one the
    * pigeonhole argument covers. Output (id_1, id_2) distinct, id_1 <
    * id_2.
    *
    * With `positional = true` (`full` must then be the ranked frame) the
    * join also applies PPJoin's POSITIONAL filter: a qualifying pair's
    * globally-smallest common shingle is in the probe's prefix
    * (pigeonhole on its suffix) and the full side matches every shingle,
    * so that first-match row exists and bounds the overlap by
    * 1 + min(|A|-i, |B|-j); the min-denominator threshold needs
    * overlap >= ceil(t*|A|) (|A| = the probe's, smaller, set) —
    * cross-multiplied to stay integral. Later-match rows may fail the
    * bound spuriously; the distinct only needs the first-match row. The
    * filter's price is ranking the FULL side (a second window execution),
    * which only pays when candidate mass dominates — the callers choose. */
  private def minSideCandidates(
      full: DataFrame, prefix: DataFrame, minBp: Long, positional: Boolean): DataFrame = {
    val sizeOrder =
      col("a.__n") < col("b.__n") ||
        (col("a.__n") === col("b.__n") && col("a.__id") < col("b.__id"))
    val cond =
      if (positional)
        col("a.__x") === col("b.__x") && sizeOrder &&
          Jaccard.positionalOverlapBound * 10000L >= col("a.__n") * minBp
      else col("a.__x") === col("b.__x") && sizeOrder
    prefix.as("a")
      .join(full.as("b"), cond)
      .select(
        least(col("a.__id"), col("b.__id")).as("id_1"),
        greatest(col("a.__id"), col("b.__id")).as("id_2"))
      .distinct()
  }

  /** All pairs with floor(10000*|A∩B| / min(|A|,|B|)) >= minBp over
    * df-capped 3-gram shingle sets. Output (id_1, id_2, inter, min_n,
    * containment_bp), id_1 < id_2 — same result as the direct
    * co-occurrence containment plan.
    *
    * Eager, like [[Jaccard.pairs]]: building this DataFrame runs one
    * corpus-scale Spark job through [[graft.Lineage.truncate]],
    * predicates applied to the result do not push below the sets build
    * (it is rooted at that checkpoint), and cluster callers should set a
    * checkpoint dir. */
  def pairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minBp: Long,
      maxDf: Long = Long.MaxValue,
      collapseSiblings: Boolean = true,
      positionalFilter: Boolean = true): DataFrame = {
    require(minBp >= 1 && minBp <= 10000, "minBp in [1, 10000]")
    // truncate the multiply-consumed sets lineage — rationale on [[Jaccard.pairs]]
    pairsFromSets(
      graft.Lineage.truncate(Jaccard.cappedSets(df, idCol, textCol, maxDf)),
      minBp, collapseSiblings, positionalFilter)
  }

  /** [[pairs]] body over a pre-built capped sets frame — the seam
    * [[pairsAuto]] shares with its sibling probe (see
    * [[Jaccard.pairsFromSets]]). */
  private[dedup] def pairsFromSets(
      capped: DataFrame,
      minBp: Long,
      collapseSiblings: Boolean,
      positionalFilter: Boolean = true): DataFrame = {
    val (sets, membership) =
      if (collapseSiblings) {
        val (r, m) = Jaccard.collapse(capped); (r, Some(m))
      } else (capped, None)
    val (exploded, ranked, prefix) = explodedAndPrefix(sets, minBp)
    val cand = minSideCandidates(
      if (positionalFilter) ranked else exploded, prefix, minBp, positionalFilter)
    // shuffle-hash verification for the same reason as [[Jaccard.pairs]]:
    // never sort probe rows carrying full shingle arrays
    val repPairs = cand
      .join(sets.as("sa").hint("shuffle_hash"), col("id_1") === col("sa.__id"))
      .join(sets.as("sb").hint("shuffle_hash"), col("id_2") === col("sb.__id"))
      .select(
        col("id_1"), col("id_2"),
        size(array_intersect(col("sa.__set"), col("sb.__set"))).cast(LongType).as("inter"),
        least(size(col("sa.__set")), size(col("sb.__set"))).cast(LongType).as("min_n"))
      .withColumn("containment_bp", expr("inter * 10000 div min_n"))
      .filter(col("containment_bp") >= minBp)
      .select("id_1", "id_2", "inter", "min_n", "containment_bp")
    membership match {
      case None => repPairs
      case Some(mem) =>
        // within a group inter = min_n = |set| and containment = 10000 bp
        // by construction ([[Jaccard.expandByMembership]])
        Jaccard.expandByMembership(repPairs, mem,
          payload = Seq("inter", "min_n", "containment_bp"),
          withinPayload = Seq(col("ma.__n").as("inter"),
            col("ma.__n").as("min_n"), lit(10000L).as("containment_bp")))
    }
  }

  /** Directional near-subset pruning: docs whose df-capped shingle set is
    * >= minBp contained in an EARLIER doc, flagged with their best
    * container (highest containment, ties to the smallest id). Output
    * (doc_id, contained_in, inter, cont_bp) — same result as the direct
    * plan behind subset_docs.
    *
    * `collapseSiblings = false` runs the lean direction-aware plan
    * ([[subsetsPlain]]) — for corpora KNOWN to be free of set-identical
    * documents, where the collapse window plus both-direction expansion
    * is pure insurance overhead (the r14 always-collapse form cost +41%
    * warm on the sibling-free sf0.1 catalog entry). On template-family
    * corpora the default MUST stay on: without it the directional join
    * inherits the C(m,2) sibling blowup ([[Jaccard.collapse]]).
    * [[subsetsAuto]] measures which corpus it has and dispatches.
    * `positionalFilter = true` adds the positional candidate prune at
    * the cost of ranking the full probe side (100x blowup: -13% wall,
    * -31% spill; sf0.1 warm: ~+0.7 s — off by default here, unlike
    * [[pairs]]). Results are identical under every knob combination
    * (CollapseSpec pins them).
    *
    * Eager, like [[pairs]]: building this DataFrame runs one corpus-scale
    * Spark job through [[graft.Lineage.truncate]], predicates applied to
    * the result do not push below the sets build (it is rooted at that
    * checkpoint), and cluster callers should set a checkpoint dir. */
  def subsets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minBp: Long,
      maxDf: Long = Long.MaxValue,
      collapseSiblings: Boolean = true,
      positionalFilter: Boolean = false): DataFrame = {
    require(minBp >= 1 && minBp <= 10000, "minBp in [1, 10000]")
    // truncate the multiply-consumed sets lineage — rationale on
    // [[Jaccard.pairs]]. The plain (no-collapse) body re-ran the scan +
    // shingle chain FOUR times before this (prefix explode + the
    // direction probe + both verification builds — none meet at a
    // reusable exchange); the collapsed body re-plans it per consumer.
    val capped =
      graft.Lineage.truncate(Jaccard.cappedSets(df, idCol, textCol, maxDf))
    if (collapseSiblings) subsetsCollapsed(capped, minBp, positionalFilter)
    else subsetsPlain(capped, minBp, positionalFilter)
  }

  /** Knob-off body of [[subsets]]: with no collapse, every candidate's
    * LATER side is known at candidate time, so the pigeonhole prefix sits
    * directly on the denominator (the later doc's set) and each pair is
    * generated, verified, and scored ONCE in its only qualifying
    * direction — no both-direction explode, no membership join. This is
    * the lean plan for sibling-free corpora; on template corpora it
    * inherits the C(m,2) blowup the collapse exists to kill. */
  private def subsetsPlain(
      capped: DataFrame, minBp: Long, positionalFilter: Boolean): DataFrame = {
    val (exploded, ranked, prefix) = explodedAndPrefix(capped, minBp)
    // direction-aware probe: the LATER doc (a) is the constrained side,
    // its prefix joins every EARLIER doc's full token list; the optional
    // positional bound mirrors [[minSideCandidates]] with the later doc's
    // set as the denominator
    val base = col("a.__x") === col("b.__x") && col("a.__id") > col("b.__id")
    val cond =
      if (positionalFilter)
        base && Jaccard.positionalOverlapBound * 10000L >= col("a.__n") * minBp
      else base
    val cand = prefix.as("a")
      .join((if (positionalFilter) ranked else exploded).as("b"), cond)
      .select(col("a.__id").as("doc_id"), col("b.__id").as("contained_in"))
      .distinct()
    val flagged = cand
      .join(capped.as("sa").hint("shuffle_hash"), col("doc_id") === col("sa.__id"))
      .join(capped.as("sb").hint("shuffle_hash"), col("contained_in") === col("sb.__id"))
      .select(
        col("doc_id"), col("contained_in"),
        size(array_intersect(col("sa.__set"), col("sb.__set"))).cast(LongType).as("inter"),
        size(col("sa.__set")).cast(LongType).as("__n"))
      .withColumn("cont_bp", expr("inter * 10000 div __n"))
      .filter(col("cont_bp") >= minBp)
      .select(col("doc_id"), col("contained_in"), col("inter"), col("cont_bp"))
    bestContainer(flagged)
  }

  /** Collapsed body of [[subsets]] — the shared chain [[subsetsAuto]]
    * runs off one cached sets frame when the corpus carries siblings. */
  private def subsetsCollapsed(
      capped: DataFrame,
      minBp: Long,
      positionalFilter: Boolean): DataFrame = {
    val (sets, membership) = Jaccard.collapse(capped)
    val (exploded, ranked, prefix) = explodedAndPrefix(sets, minBp)
    // Rep-level candidates use the MIN-denominator prefix filter (the
    // [[pairs]] orientation), a superset of the later-denominator
    // qualifiers: inter >= ceil(t*n_later) implies
    // inter >= ceil(t*min(n_1, n_2)) since n_later >= min. The
    // directional probe can't run at rep level — a group's members span
    // arbitrary ids, so either member of a pair may be the later doc.
    val cand = minSideCandidates(
      if (positionalFilter) ranked else exploded, prefix, minBp, positionalFilter)
    val repCand = cand
      .join(sets.as("sa").hint("shuffle_hash"), col("id_1") === col("sa.__id"))
      .join(sets.as("sb").hint("shuffle_hash"), col("id_2") === col("sb.__id"))
      .select(
        col("id_1"), col("id_2"),
        size(array_intersect(col("sa.__set"), col("sb.__set"))).cast(LongType).as("inter"),
        size(col("sa.__set")).cast(LongType).as("__n1"),
        size(col("sb.__set")).cast(LongType).as("__n2"))
      .filter(col("inter") * 10000 >= least(col("__n1"), col("__n2")) * minBp)
    // Per-direction expansion keeps ONLY the candidate that can win per
    // (doc, container group): all members of a container group tie on
    // cont_bp (identical sets), ties break to the smallest container id,
    // and the group's minimum id IS its rep — so the rep is the sole
    // potential winner whenever it precedes the doc, and emission is
    // O(contained-group members), never members x members. Both
    // directions ride ONE pass over repCand (an explode, then a single
    // membership join) — two direction branches would re-execute the
    // whole candidate+verification chain once each (measured 3x wall on
    // the catalog entry).
    val directed = repCand
      .select(explode(array(
        struct(col("id_1").as("__container"), col("id_2").as("__crep"),
          col("inter"), expr("inter * 10000 div __n2").as("cont_bp")),
        struct(col("id_2").as("__container"), col("id_1").as("__crep"),
          col("inter"), expr("inter * 10000 div __n1").as("cont_bp")))).as("__d"))
      .select(col("__d.__container").as("__container"),
        col("__d.__crep").as("__crep"),
        col("__d.inter").as("inter"), col("__d.cont_bp").as("cont_bp"))
      .filter(col("cont_bp") >= minBp)
    val cross = directed
      .join(membership.as("m"), col("__crep") === col("m.__rep"))
      .filter(col("m.__id") > col("__container"))
      .select(col("m.__id").as("doc_id"), col("__container").as("contained_in"),
        col("inter"), col("cont_bp"))
    // within a group, every non-rep member is 10000-bp contained in
    // the rep (identical sets, rep = smallest id = best possible
    // container from the group)
    val within = membership.filter(col("__id") =!= col("__rep"))
      .select(col("__id").as("doc_id"), col("__rep").as("contained_in"),
        col("__n").as("inter"), lit(10000L).as("cont_bp"))
    bestContainer(cross.unionAll(within))
  }

  /** Shared finisher of the [[subsets]] bodies: keep each doc's best
    * container (highest containment, ties to the smallest id). */
  private def bestContainer(flagged: DataFrame): DataFrame =
    flagged
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("cont_bp").desc, col("contained_in").asc)))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("contained_in"), col("inter"), col("cont_bp"))

  /** [[subsets]] with both plan knobs decided by measurement: the
    * sibling pair mass ([[Jaccard.probeSets]]) decides the collapse —
    * quadratic template families get the sibling-proof plan, corpora
    * whose duplicates are a sprinkling of pairs get the lean directional
    * plan — and the probe's corpus size places the positional-filter
    * crossover ([[PositionalMinDocs]]). The default materialize mode
    * persists the capped sets frame across the exact probe + plan,
    * materializes the result through [[graft.Lineage.truncate]], and
    * releases the cache before returning — measured at or below the fixed plans' own times on
    * both corpora (sf0.1 warm 1.43 s vs the plain plan's 1.52; 100x
    * 33.0 s vs 32.2/42.9 fixed — see [[Jaccard.pairsAuto]]).
    * `materialize = false` returns the lazy plan instead: one `count()`
    * plus ONE probe pass (uncapped below
    * [[Jaccard.CappedProbeMinDocs]], exact capped above — see
    * [[Jaccard.hazardProbe]]), with the plan recomputing the shingling
    * lineage per traversal. */
  def subsetsAuto(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minBp: Long,
      maxDf: Long = Long.MaxValue,
      materialize: Boolean = true,
      positionalMinDocs: Long = PositionalMinDocs): DataFrame = {
    require(minBp >= 1 && minBp <= 10000, "minBp in [1, 10000]")
    def mk(cap: Long) = Jaccard.cappedSets(df, idCol, textCol, cap)
    def run(sets: DataFrame, nDocs: Long, pairMass: Long): DataFrame = {
      val positional = nDocs >= positionalMinDocs
      if (pairMass > nDocs) subsetsCollapsed(sets, minBp, positional)
      else subsetsPlain(sets, minBp, positional)
    }
    if (!materialize) {
      // the raw count only stages the probe target; both knobs key on
      // the probe's non-empty-set count, the measure materialize mode
      // reads from the same aggregate (Jaccard.autoDispatch discipline)
      val nRows = df.count()
      val (nDocs, pairMass) = Jaccard.hazardProbe(nRows, mk, maxDf)
      run(mk(maxDf), nDocs, pairMass)
    } else {
      val cached = mk(maxDf)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val (nDocs, pairMass) = Jaccard.probeSets(cached)
        graft.Lineage.truncate(run(cached, nDocs, pairMass))
      } finally cached.unpersist(blocking = false)
    }
  }

  /** Direct co-occurrence formulation of [[pairs]] — result-identical,
    * no prefix machinery; the full-x-full join is fine on small corpora
    * and quadratic on hot shingles at scale ([[pairsAuto]] dispatches). */
  def pairsDirect(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minBp: Long,
      maxDf: Long = Long.MaxValue): DataFrame = {
    require(minBp >= 1 && minBp <= 10000, "minBp in [1, 10000]")
    pairsDirectFromSets(Jaccard.cappedSets(df, idCol, textCol, maxDf), minBp)
  }

  /** [[pairsDirect]] body over a pre-built capped sets frame (the
    * [[Jaccard.autoDispatch]] seam — probe and branch share one
    * shingling lineage). */
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
      .withColumn("min_n", least(col("na.__n"), col("nb.__n")))
      .withColumn("containment_bp", expr("inter * 10000 div min_n"))
      .filter(col("containment_bp") >= minBp)
      .select("id_1", "id_2", "inter", "min_n", "containment_bp")
  }

  /** Size-dispatched containment pairs: the direct co-occurrence body up
    * to `directMaxDocs` non-empty-set documents, prefix-filtered [[pairs]]
    * above, with the collapse decided by the sibling probe AND the
    * positional filter by the corpus size ([[PositionalMinDocs]]) — the
    * same one-aggregate dispatch (and defaults, and cache discipline) as
    * [[Jaccard.pairsAuto]], through the same [[Jaccard.autoDispatch]]. */
  def pairsAuto(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minBp: Long,
      maxDf: Long = Long.MaxValue,
      directMaxDocs: Long = Jaccard.DirectMaxDocs,
      materialize: Boolean = true,
      positionalMinDocs: Long = PositionalMinDocs): DataFrame = {
    // same rationale as [[Jaccard.pairsAuto]]: the direct branch runs
    // the require-less FromSets seam
    require(minBp >= 1 && minBp <= 10000, "minBp in [1, 10000]")
    Jaccard.autoDispatch(df, directMaxDocs, materialize, maxDf)(
      mkSets = (input, cap) => Jaccard.cappedSets(input, idCol, textCol, cap),
      directFromSets = sets => pairsDirectFromSets(sets, minBp),
      fromSets = (sets, collapse, nDocs) =>
        pairsFromSets(sets, minBp, collapse,
          positionalFilter = nDocs >= positionalMinDocs))
  }
}
