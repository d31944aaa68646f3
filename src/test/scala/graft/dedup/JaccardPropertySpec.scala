package graft.dedup

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** Generator-driven pinning of the PPJoin filter arithmetic
  * ([[Jaccard.pairsFromSets]]: prefix length, length filter, positional
  * overlap bound): on arbitrary corpora, `Jaccard.pairs` must equal
  * brute-force all-pairs Jaccard >= threshold over the SAME capped sets.
  * The corpora come from a tiny vocabulary so the hazards the filters
  * must survive occur constantly: rarity-order TIES (equal corpus
  * frequencies resolved by value), empty sets (under-3-token docs — must
  * pair with nothing), singleton sets (prefix = whole set), set-identical
  * sibling groups (collapse on/off both run), and df-capping that merges
  * or empties sets. Thresholds mix the exact-boundary values (5000, 6667,
  * 10000 — where ceil/floor off-by-ones in the prefix length or the
  * cross-multiplied positional bound would drop a qualifying pair) with
  * uniform draws. The fixed-corpus twins live in CollapseSpec /
  * AutoJoinSpec; this suite protects the single-owner bound formulas in
  * [[Jaccard.explodedAndPrefix]] / [[Jaccard.positionalOverlapBound]]
  * against the next edit. */
class JaccardPropertySpec extends SparkSpec {
  import spark.implicits._

  // 6 words: corpus frequencies collide constantly, so the global
  // (frequency asc, value asc) rarity order is exercised at its ties
  private val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")

  private val genCorpus: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(0, 24)
    texts <- Gen.listOfN(n, for {
      len <- Gen.choose(0, 9) // 0-2 tokens: EMPTY shingle set; 3: singleton
      toks <- Gen.listOfN(len, Gen.oneOf(words))
    } yield toks.mkString(" "))
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private val genMinBp: Gen[Long] = Gen.frequency(
    3 -> Gen.oneOf(5000L, 6667L, 10000L), // exact ceil/floor boundaries
    1 -> Gen.const(1L),                   // everything-qualifies extreme
    2 -> Gen.choose(1L, 10000L))

  private def bruteForce(
      sets: Map[Long, Set[Long]], minBp: Long): Set[(Long, Long, Long)] =
    (for {
      (i, a) <- sets.toSeq
      (j, b) <- sets.toSeq
      if i < j
      inter = (a & b).size.toLong
      bp = inter * 10000L / (a.size + b.size - inter)
      if bp >= minBp
    } yield (i, j, bp)).toSet

  test("Jaccard.pairs == brute force over the capped sets (ties, empties, boundaries, caps)") {
    val prop = Prop.forAll(genCorpus, genMinBp,
      Gen.oneOf(Long.MaxValue, 2L, 4L), Gen.oneOf(true, false)) {
      (docs, minBp, maxDf, collapse) =>
        val df = docs.toDF("doc_id", "text")
        // the contract is relative to the CAPPED sets — brute force reads
        // them from the same seam the join consumes
        val sets = Jaccard
          .cappedSets(df, "doc_id", "text", maxDf)
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
        val got = Jaccard
          .pairs(df, "doc_id", "text", minBp, maxDf,
            collapseSiblings = collapse)
          .as[(Long, Long, Long)].collect().toSet
        val want = bruteForce(sets, minBp)
        if (got != want)
          println(s"minBp=$minBp maxDf=$maxDf collapse=$collapse " +
            s"missing=${want -- got} extra=${got -- want} sets=$sets")
        got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("singleton and identical sets at the 10000 boundary") {
    // 3-token docs shingle to singleton sets: prefix == whole set, and the
    // positional bound's 1 + min(|A|-i, |B|-j) term sits at its floor
    val docs = Seq(
      (1L, "alpha beta gamma"),  // singleton {s1}
      (2L, "alpha beta gamma"),  // identical singleton
      (3L, "beta gamma delta"),  // different singleton
      (4L, "alpha beta"),        // EMPTY set — pairs with nothing
      (5L, "alpha beta gamma delta")) // {s1, s2}: J(5,1) = J(5,3) = 1/2
    .toDF("doc_id", "text")
    for (collapse <- Seq(true, false)) {
      val at10000 = Jaccard
        .pairs(docs, "doc_id", "text", 10000L, collapseSiblings = collapse)
        .as[(Long, Long, Long)].collect().toSet
      assert(at10000 == Set((1L, 2L, 10000L)), s"collapse=$collapse: $at10000")
      val at5000 = Jaccard
        .pairs(docs, "doc_id", "text", 5000L, collapseSiblings = collapse)
        .as[(Long, Long, Long)].collect().toSet
      // the J=1/2 pairs enter exactly AT the 5000 boundary
      assert(at5000 == Set((1L, 2L, 10000L),
        (1L, 5L, 5000L), (2L, 5L, 5000L), (3L, 5L, 5000L)),
        s"collapse=$collapse: $at5000")
    }
  }
}
