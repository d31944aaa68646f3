package graft.dedup

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** Generator-driven pinning of the CONTAINMENT prefix-join arithmetic —
  * the directional twin of JaccardPropertySpec, covering the pieces that
  * family owns alone: the min-denominator pair orientation (smaller set
  * constrains, ties by id), the later-denominator subsets direction, the
  * containment-specific positional bound (denominator is one SIDE's set,
  * not the union), and the both-direction membership expansion under the
  * sibling collapse. Random tiny-vocabulary corpora keep rarity-order
  * ties, empty/singleton sets, set-identical sibling groups, and
  * df-capping constantly in play; every (collapse, positional) knob
  * combination must reproduce brute-force all-pairs containment over the
  * SAME capped sets. Fixed-corpus twins live in ContainmentSpec /
  * CollapseSpec; this suite protects the bound formulas against the next
  * edit. */
class ContainmentPropertySpec extends SparkSpec {
  import spark.implicits._

  private val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")

  private val genCorpus: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(0, 22)
    texts <- Gen.listOfN(n, for {
      len <- Gen.choose(0, 9) // 0-2 tokens: EMPTY shingle set; 3: singleton
      toks <- Gen.listOfN(len, Gen.oneOf(words))
    } yield toks.mkString(" "))
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private val genMinBp: Gen[Long] = Gen.frequency(
    3 -> Gen.oneOf(5000L, 6667L, 9000L, 10000L),
    1 -> Gen.const(1L),
    2 -> Gen.choose(1L, 10000L))

  private def cappedSets(
      docs: List[(Long, String)], maxDf: Long): Map[Long, Set[Long]] =
    Jaccard.cappedSets(docs.toDF("doc_id", "text"), "doc_id", "text",
      maxDf)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap

  test("Containment.pairs == brute force over the capped sets (all knob combos)") {
    val prop = Prop.forAll(genCorpus, genMinBp,
      Gen.oneOf(Long.MaxValue, 2L, 4L), Gen.oneOf(true, false),
      Gen.oneOf(true, false)) { (docs, minBp, maxDf, collapse, positional) =>
      val sets = cappedSets(docs, maxDf)
      val want = (for {
        (i, a) <- sets.toSeq
        (j, b) <- sets.toSeq
        if i < j
        inter = (a & b).size.toLong
        minN = math.min(a.size, b.size).toLong
        bp = inter * 10000L / minN
        if bp >= minBp
      } yield (i, j, inter, minN, bp)).toSet
      val got = Containment
        .pairs(docs.toDF("doc_id", "text"), "doc_id", "text", minBp,
          maxDf, collapseSiblings = collapse,
          positionalFilter = positional)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      if (got != want)
        println(s"pairs minBp=$minBp maxDf=$maxDf collapse=$collapse " +
          s"pos=$positional missing=${want -- got} extra=${got -- want}")
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("Containment.subsets == brute-force best earlier container (all knob combos)") {
    val prop = Prop.forAll(genCorpus, genMinBp,
      Gen.oneOf(Long.MaxValue, 2L, 4L), Gen.oneOf(true, false),
      Gen.oneOf(true, false)) { (docs, minBp, maxDf, collapse, positional) =>
      val sets = cappedSets(docs, maxDf)
      // per LATER doc: all earlier docs at >= minBp containment of the
      // later doc's own set; keep the best (max bp, ties to smallest id)
      val want = sets.toSeq.flatMap { case (j, b) =>
        val cands = for {
          (i, a) <- sets.toSeq
          if i < j
          inter = (a & b).size.toLong
          bp = inter * 10000L / b.size
          if bp >= minBp
        } yield (j, i, inter, bp)
        if (cands.isEmpty) None
        else Some(cands.minBy { case (_, i, _, bp) => (-bp, i) })
      }.toSet
      val got = Containment
        .subsets(docs.toDF("doc_id", "text"), "doc_id", "text", minBp,
          maxDf, collapseSiblings = collapse,
          positionalFilter = positional)
        .as[(Long, Long, Long, Long)].collect().toSet
      if (got != want)
        println(s"subsets minBp=$minBp maxDf=$maxDf collapse=$collapse " +
          s"pos=$positional missing=${want -- got} extra=${got -- want}")
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }
}
