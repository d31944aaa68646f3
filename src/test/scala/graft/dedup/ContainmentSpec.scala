package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The prefix-filtered containment joins must equal a brute-force
  * all-pairs computation over the SAME df-capped shingle sets — candidate
  * completeness (the pigeonhole prefix argument) is the part a missed
  * candidate would silently break, so it is pinned against ground truth on
  * randomized corpora with planted containment structure, at several
  * thresholds and with the df cap both inert and active.
  */
class ContainmentSpec extends SparkSpec {
  import spark.implicits._

  private val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
    "eta", "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omi", "pi",
    "rho", "sigma", "tau", "ups")

  /** Deterministic corpus with planted quotes: random docs, plus for some
    * docs a near-verbatim substring quote and a same-length sibling. */
  private def corpus(seed: Int, nDocs: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val base = (0 until nDocs).map { i =>
      val n = 3 + rnd.nextInt(30)
      (i.toLong, Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" "))
    }
    val quotes = base.filter(_._1 % 4 == 0).map { case (id, text) =>
      val toks = text.split(" ")
      val take = math.max(3, toks.length - rnd.nextInt(3))
      (nDocs + id, toks.take(take).mkString(" ")) // near-subset of doc id
    }
    val siblings = base.filter(_._1 % 5 == 0).map { case (id, text) =>
      (3L * nDocs + id, text) // identical twin: equal sizes, containment 100%
    }
    base ++ quotes ++ siblings
  }

  private def sets(df: DataFrame, maxDf: Long): Map[Long, Set[Long]] =
    Jaccard.cappedSets(df, "doc_id", "text", maxDf)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
      .toMap

  private def bruteContainment(ss: Map[Long, Set[Long]], minBp: Long): Set[(Long, Long, Long, Long, Long)] =
    (for {
      (i, a) <- ss.toSeq; (j, b) <- ss.toSeq if i < j
      inter = (a & b).size.toLong
      minN = math.min(a.size, b.size).toLong
      bp = inter * 10000 / minN
      if bp >= minBp
    } yield (i, j, inter, minN, bp)).toSet

  private def bruteSubsets(ss: Map[Long, Set[Long]], minBp: Long): Set[(Long, Long, Long, Long)] = {
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

  for (seed <- Seq(1, 2, 3); minBp <- Seq(5000L, 8000L, 9000L); maxDf <- Seq(Long.MaxValue, 6L)) {
    val label = s"seed=$seed minBp=$minBp maxDf=${if (maxDf == Long.MaxValue) "inf" else maxDf}"

    test(s"pairs equals brute force over the capped sets ($label)") {
      val df = corpus(seed, 24).toDF("doc_id", "text")
      val got = Containment.pairs(df, "doc_id", "text", minBp, maxDf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      val want = bruteContainment(sets(df, maxDf), minBp)
      assert(got == want)
      assert(want.nonEmpty, "planted quotes must produce at least one hit")
    }

    test(s"subsets equals brute force over the capped sets ($label)") {
      val df = corpus(seed, 24).toDF("doc_id", "text")
      val got = Containment.subsets(df, "doc_id", "text", minBp, maxDf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val want = bruteSubsets(sets(df, maxDf), minBp)
      assert(got == want)
      assert(want.nonEmpty, "planted quotes must produce at least one flagged doc")
    }
  }
}
