package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Set-identical sibling collapse (round 14): the prefix-filtered joins
  * run their candidate generation over ONE representative per distinct
  * capped shingle set and expand pairs by group membership. These specs
  * pin collapse == direct on corpora PLANTED with large identical-set
  * groups — the shape that made pre-collapse PPJoin verify C(m,2) pairs
  * per m-sibling group (133 GiB of spill at the 100x rehearsal) and the
  * shape where a collapse bug (missed within-group pair, wrong expansion
  * orientation, double emission) would show first.
  */
class CollapseSpec extends SparkSpec {
  import spark.implicits._

  private val words = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa", "lam", "mu", "nu", "xi",
    "omi", "pi", "rho", "sigma", "tau", "ups")

  /** nGroups clusters of mPerGroup set-identical docs (same text =>
    * same shingle set) + nLoners distinct docs, ids interleaved so group
    * membership is NOT contiguous in id space (the subsets direction
    * logic must not depend on sibling id adjacency). */
  private def corpus(seed: Int, nGroups: Int, mPerGroup: Int, nLoners: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def text() = {
      val n = 6 + rnd.nextInt(25)
      Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    }
    val groupTexts = Vector.fill(nGroups)(text())
    val lonerTexts = Vector.fill(nLoners)(text())
    val rows =
      (0 until nGroups).flatMap(g =>
        (0 until mPerGroup).map(k => (g + k * 1000L, groupTexts(g)))) ++
        (0 until nLoners).map(i => (500L + i, lonerTexts(i)))
    rows.toDF("doc_id", "text")
  }

  private def collect3(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  private def collect5(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
  private def collect4(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  for (seed <- Seq(7, 8); minBp <- Seq(8000L, 10000L); maxDf <- Seq(Long.MaxValue, 8L)) {
    val label = s"seed=$seed minBp=$minBp maxDf=${if (maxDf == Long.MaxValue) "inf" else maxDf}"

    test(s"jaccard collapse == direct on identical-set groups ($label)") {
      val df = corpus(seed, nGroups = 4, mPerGroup = 6, nLoners = 12)
      val viaCollapse = collect3(
        Jaccard.pairs(df, "doc_id", "text", minBp, maxDf))
      val direct = collect3(
        Jaccard.pairsDirect(df, "doc_id", "text", minBp, maxDf))
      assert(viaCollapse == direct)
      // every within-group pair is present at 10000 bp: 4 groups x C(6,2)
      val within = viaCollapse.filter(_._3 == 10000L)
      assert(within.size >= 4 * 15, s"expected >= 60 sibling pairs, got ${within.size}")
    }

    test(s"containment collapse == direct on identical-set groups ($label)") {
      val df = corpus(seed, nGroups = 4, mPerGroup = 6, nLoners = 12)
      val viaCollapse = collect5(
        Containment.pairs(df, "doc_id", "text", minBp, maxDf))
      val direct = collect5(
        Containment.pairsDirect(df, "doc_id", "text", minBp, maxDf))
      assert(viaCollapse == direct)
    }

    test(s"subsets collapse == brute force on identical-set groups ($label)") {
      val df = corpus(seed, nGroups = 4, mPerGroup = 6, nLoners = 12)
      val ss = Jaccard.cappedSets(df, "doc_id", "text", maxDf)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      val want = {
        val flagged = for {
          (j, b) <- ss.toSeq; (i, a) <- ss.toSeq if i < j
          inter = (a & b).size.toLong
          bp = inter * 10000 / b.size
          if bp >= minBp
        } yield (j, i, inter, bp)
        flagged.groupBy(_._1).map { case (_, cands) =>
          cands.minBy { case (_, i, _, bp) => (-bp, i) }
        }.toSet
      }
      val got = collect4(
        Containment.subsets(df, "doc_id", "text", minBp, maxDf))
      assert(got == want)
      // every non-first sibling is flagged (contained 10000 bp somewhere)
      assert(got.size >= 4 * 5, s"expected >= 20 flagged siblings, got ${got.size}")
    }
  }

  test("collapseSiblings = false produces identical pairs (the knob is plan-only)") {
    val df = corpus(9, nGroups = 3, mPerGroup = 5, nLoners = 10)
    val on = collect3(Jaccard.pairs(df, "doc_id", "text", 8000L))
    val off = collect3(Jaccard.pairs(df, "doc_id", "text", 8000L,
      maxDf = Long.MaxValue, collapseSiblings = false))
    assert(on == off)
    val cOn = collect5(Containment.pairs(df, "doc_id", "text", 9000L))
    val cOff = collect5(Containment.pairs(df, "doc_id", "text", 9000L,
      maxDf = Long.MaxValue, collapseSiblings = false))
    assert(cOn == cOff)
  }

  test("subsets collapseSiblings = false produces identical flags (knob is plan-only)") {
    val df = corpus(9, nGroups = 3, mPerGroup = 5, nLoners = 10)
    for (minBp <- Seq(8000L, 9500L)) {
      val on = collect4(Containment.subsets(df, "doc_id", "text", minBp))
      val off = collect4(Containment.subsets(df, "doc_id", "text", minBp,
        maxDf = Long.MaxValue, collapseSiblings = false))
      assert(on == off, s"minBp=$minBp")
    }
  }

  test("positionalFilter is plan-only for every knob combination") {
    val df = corpus(10, nGroups = 3, mPerGroup = 4, nLoners = 12)
    for (minBp <- Seq(8000L, 9500L); collapse <- Seq(true, false)) {
      val want = collect4(Containment.subsets(df, "doc_id", "text", minBp,
        maxDf = Long.MaxValue, collapseSiblings = collapse))
      val pos = collect4(Containment.subsets(df, "doc_id", "text", minBp,
        maxDf = Long.MaxValue, collapseSiblings = collapse,
        positionalFilter = true))
      assert(pos == want, s"subsets minBp=$minBp collapse=$collapse")
    }
    for (minBp <- Seq(8000L, 9500L)) {
      val want = collect5(Containment.pairs(df, "doc_id", "text", minBp))
      val noPos = collect5(Containment.pairs(df, "doc_id", "text", minBp,
        maxDf = Long.MaxValue, collapseSiblings = true,
        positionalFilter = false))
      assert(noPos == want, s"pairs minBp=$minBp")
    }
  }

  test("subsetsAuto matches subsets on sibling-heavy AND sibling-free corpora") {
    // sibling-heavy: the probe must pick the collapsed plan and still
    // emit every within-group flag
    val heavy = corpus(11, nGroups = 3, mPerGroup = 5, nLoners = 8)
    assert(collect4(Containment.subsetsAuto(heavy, "doc_id", "text", 9000L))
      == collect4(Containment.subsets(heavy, "doc_id", "text", 9000L)))
    // sibling-free (loners only): the probe picks the plain plan
    val free = corpus(12, nGroups = 0, mPerGroup = 0, nLoners = 25)
    assert(collect4(Containment.subsetsAuto(free, "doc_id", "text", 8000L))
      == collect4(Containment.subsets(free, "doc_id", "text", 8000L)))
    // materialize = false probes the raw lineage, same answer
    assert(collect4(Containment.subsetsAuto(heavy, "doc_id", "text", 9000L,
      maxDf = Long.MaxValue, materialize = false))
      == collect4(Containment.subsets(heavy, "doc_id", "text", 9000L)))
  }

  test("pairsAuto sibling probe matches pairs on both corpus shapes (both modules)") {
    // directMaxDocs = 0 forces the prefix branch, where the probe decides
    // the collapse; either choice must be result-identical to the
    // always-collapsed pairs form
    val heavy = corpus(13, nGroups = 3, mPerGroup = 5, nLoners = 8)
    val free = corpus(14, nGroups = 0, mPerGroup = 0, nLoners = 25)
    for (df <- Seq(heavy, free)) {
      assert(collect3(Jaccard.pairsAuto(df, "doc_id", "text", 8000L,
        maxDf = Long.MaxValue, directMaxDocs = 0L))
        == collect3(Jaccard.pairs(df, "doc_id", "text", 8000L)))
      assert(collect5(Containment.pairsAuto(df, "doc_id", "text", 9000L,
        maxDf = Long.MaxValue, directMaxDocs = 0L))
        == collect5(Containment.pairs(df, "doc_id", "text", 9000L)))
    }
    // materialize = false probes the raw lineage, same answer
    assert(collect3(Jaccard.pairsAuto(heavy, "doc_id", "text", 8000L,
      maxDf = Long.MaxValue, directMaxDocs = 0L,
      materialize = false))
      == collect3(Jaccard.pairs(heavy, "doc_id", "text", 8000L)))
  }

  test("auto entries place the positional filter by corpus size (plan-only)") {
    // the crossover is a defaulted parameter precisely so the spec can
    // force it both ways on one corpus: results must be identical, and
    // the positional pick must actually reach the candidate join (its
    // plan signature on the subsets family is the overlap bound's
    // `least(|A|-i, |B|-j)` — the non-positional directional plan has no
    // least() anywhere)
    val df = corpus(15, nGroups = 0, mPerGroup = 0, nLoners = 25)
    def auto(minDocs: Long) = Containment.subsetsAuto(df, "doc_id", "text", 8000L,
      maxDf = Long.MaxValue, materialize = false,
      positionalMinDocs = minDocs)
    val off = auto(Long.MaxValue)
    val on = auto(0L)
    assert(collect4(on) == collect4(off))
    assert(on.queryExecution.optimizedPlan.toString.contains("least("))
    assert(!off.queryExecution.optimizedPlan.toString.contains("least("))
    // the pairs twin: same crossover forcing, same pinned result (its
    // candidate join carries least()/greatest() projections either way,
    // so identity is the assertion here; CollapseSpec's knob-combo test
    // above pins the fixed positionalFilter knob's plan-onlyness)
    val pOff = collect5(Containment.pairsAuto(df, "doc_id", "text", 9000L,
      maxDf = Long.MaxValue, directMaxDocs = 0L,
      materialize = false, positionalMinDocs = Long.MaxValue))
    val pOn = collect5(Containment.pairsAuto(df, "doc_id", "text", 9000L,
      maxDf = Long.MaxValue, directMaxDocs = 0L,
      materialize = false, positionalMinDocs = 0L))
    assert(pOn == pOff)
  }

  test("collapse emits one rep per distinct set and a full membership map") {
    val df = corpus(7, nGroups = 3, mPerGroup = 4, nLoners = 5)
    val (reps, membership) =
      Jaccard.collapse(Jaccard.cappedSets(df, "doc_id", "text", Long.MaxValue))
    val repRows = reps.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
    // reps are distinct sets, keyed by their group's smallest member
    assert(repRows.map(_._2).distinct.length == repRows.length)
    val mem = membership.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(mem.length == 3 * 4 + 5) // every doc appears exactly once
    val byRep = mem.groupBy(_._1)
    byRep.foreach { case (rep, rows) =>
      assert(rows.map(_._2).min == rep, "rep must be the group's min id")
      assert(rows.forall(_._3 == rows.length), "__m must be the group size")
    }
    assert(byRep.count(_._2.length == 4) == 3 && byRep.count(_._2.length == 1) == 5)
  }
}
