package graft.dedup

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** The auto-dispatch probe ([[Jaccard.probeSets]] / [[Jaccard.hazardProbe]]):
  * pairMass must equal the brute-force Σ C(m,2) over set-identical groups
  * on arbitrary corpora, and the lean staging must pick the probe target
  * (uncapped vs capped sets) exactly by the documented rule — the capped
  * probe is load-bearing for corpora whose docs become set-identical only
  * after df-capping, and a silent regression to the cheap probe there
  * would re-open the C(m,2) hazard the dispatch exists to prevent. */
class ProbeSpec extends SparkSpec {
  import spark.implicits._

  private val words = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa")

  test("probeSets pairMass == brute-force sum C(m,2) over set-identical groups") {
    val genCorpus: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(0, 35)
      texts <- Gen.listOfN(n, for {
        len <- Gen.choose(3, 6)
        toks <- Gen.listOfN(len, Gen.oneOf(words))
      } yield toks.mkString(" "))
    } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    // short texts from a tiny vocabulary: identical shingle sets occur
    // naturally, including across docs with different word multisets
    val prop = Prop.forAll(genCorpus) { docs =>
      val sets = Jaccard.cappedSets(docs.toDF("doc_id", "text"),
        "doc_id", "text", Long.MaxValue)
      val (gotDocs, gotMass) = Jaccard.probeSets(sets)
      val bySet = sets.collect()
        .map(r => r.getSeq[Long](1).toVector)
        .groupBy(identity).values.map(_.length.toLong)
      val wantMass = bySet.map(m => m * (m - 1) / 2).sum
      gotDocs == bySet.sum && gotMass == wantMass
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("probeSets on an empty corpus reads (0, 0), not null") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val sets = Jaccard.cappedSets(empty, "doc_id", "text", Long.MaxValue)
    assert(Jaccard.probeSets(sets) == ((0L, 0L)))
  }

  test("hazardProbe stages by corpus size: uncapped below the bound, capped at it") {
    // the capped-only-sibling shape (docs distinct uncapped, identical
    // once heavy shingles are capped away), driven through the staging
    // seam directly: mkSets(cap) returns sibling-free sets for the inert
    // cap and an all-identical frame for the real maxDf
    def mkSets(cap: Long) =
      if (cap == Long.MaxValue)
        Seq((1L, Seq(10L, 11L)), (2L, Seq(10L, 12L)), (3L, Seq(10L, 13L)))
          .toDF("__id", "__set")
      else
        Seq((1L, Seq(10L)), (2L, Seq(10L)), (3L, Seq(10L)))
          .toDF("__id", "__set")
    val bound = Jaccard.CappedProbeMinDocs
    // below the bound the cheap uncapped probe is trusted: it sees no
    // siblings (the documented bounded-risk window); nDocs rides along
    // as the probed frame's non-empty-set count (the dispatch measure)
    assert(Jaccard.hazardProbe(bound - 1, mkSets, maxDf = 8L) == ((3L, 0L)))
    // at/above the bound the exact capped probe runs and finds the
    // C(3,2) = 3 capped-sibling pairs
    assert(Jaccard.hazardProbe(bound, mkSets, maxDf = 8L) == ((3L, 3L)))
    // an inert cap short-circuits to the uncapped probe at ANY size
    // (capped == uncapped there, so the cheap probe is exact)
    assert(Jaccard.hazardProbe(bound, mkSets, maxDf = Long.MaxValue) == ((3L, 0L)))
  }
}
