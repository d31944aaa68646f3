package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Winnowing: the SIGMOD'03 guarantee is that any shared token run of at
  * least w + shingleWidth - 1 tokens (4 + 3 - 1 = 6 here) yields at least
  * one identical fingerprint in both documents.
  */
class WinnowSpec extends SparkSpec {
  import spark.implicits._

  /** Unique tokens with DIVERSE word codes (first char and length both
    * pseudo-randomly spread): wordCode = length*96 + ascii(first), so
    * same-first-letter same-length tokens collide and degenerate the
    * window minima into long tie runs. */
  private def uniqueTokens(prefix: String, n: Int): String =
    (1 to n).map { i =>
      val h = (i * 2654435761L + 104729L) % 1000003L
      s"${('a' + (h % 26)).toChar}$prefix$i${"z" * ((h / 26) % 6).toInt}"
    }.mkString(" ")

  test("a planted 10-token shared run is always caught (local-overlap guarantee)") {
    val run = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = Seq(
      (1L, s"${uniqueTokens("aa", 30)} $run ${uniqueTokens("ab", 30)}"),
      (2L, s"${uniqueTokens("ba", 25)} $run ${uniqueTokens("bb", 35)}"),
      (3L, uniqueTokens("cc", 70))) // no overlap with anyone
      .toDF("doc_id", "text")
    val pairs = Winnow.pairs(docs, "doc_id", "text", w = 4, minShared = 1L)
      .select("id_1", "id_2", "n_shared").as[(Long, Long, Long)].collect()
    val shared12 = pairs.collectFirst { case (1L, 2L, n) => n }
    assert(shared12.nonEmpty, "the planted run must produce a shared fingerprint")
    // the weak 2-feature word code CAN collide doc 3 into a stray shared
    // hash; the planted run must still dominate any accidental overlap
    val stray = pairs.collect { case (a, b, n) if a == 3L || b == 3L => n }
    assert(stray.forall(_ < shared12.get),
      s"accidental overlap $stray should stay below the planted run ${shared12.get}")
  }

  test("the fingerprint sketch is denser than 0 but sparser than the shingle set") {
    val docs = Seq((1L, uniqueTokens("w", 200))).toDF("doc_id", "text")
    val nFp = Winnow.fingerprints(docs, "doc_id", "text", w = 4).count()
    val nShingles = 198L // 200 tokens -> n-2 shingles
    assert(nFp > 0)
    assert(nFp < nShingles / 2,
      s"winnowing should thin the sketch (expected density ~2/(w+1)), got $nFp/$nShingles")
  }

  test("fingerprint positions point at the window minimum") {
    val docs = Seq((1L, uniqueTokens("t", 40))).toDF("doc_id", "text")
    val fps = Winnow.fingerprints(docs, "doc_id", "text", w = 4)
      .select("pos", "fp").as[(Long, Long)].collect()
    val sh = docs.select(call_function("graft_shingles", col("text")).as("sh"))
      .as[Seq[Long]].collect().head
    fps.foreach { case (pos, fp) =>
      assert(sh(pos.toInt - 1) == fp, s"pos $pos does not hold fp $fp")
    }
  }

  test("robust winnowing bounds density on constant content; plain does not") {
    // 150 identical tokens: every shingle hash is equal, so every window
    // of the plain variant charts a fresh leftmost position
    val docs = Seq((1L, Seq.fill(150)("aaaa").mkString(" "))).toDF("doc_id", "text")
    val nSh = 148L
    val plain = Winnow.fingerprints(docs, "doc_id", "text", w = 4).count()
    val robust = Winnow.robustFingerprints(docs, "doc_id", "text", w = 4).count()
    assert(plain > nSh * 9 / 10, s"plain should degenerate to ~1 density, got $plain/$nSh")
    assert(robust <= nSh / 4 + 1, s"robust should charter ~1/w, got $robust/$nSh")
  }

  test("robust == plain on tie-free content") {
    val docs = Seq(
      (1L, uniqueTokens("pa", 120)),
      (2L, uniqueTokens("pb", 80))).toDF("doc_id", "text")
    def dedupWindows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "pos", "fp")
      .as[(Long, Long, Long)].collect().toSet
    val plain = dedupWindows(Winnow.fingerprints(docs, "doc_id", "text", w = 4))
    val robust = dedupWindows(Winnow.robustFingerprints(docs, "doc_id", "text", w = 4))
    // identical when every window minimum is unique in its window
    assert(robust == plain)
  }

  test("the df cap drops exactly the over-df fingerprints' pairs, nothing else") {
    // 12 docs end with the same boilerplate run -> its fingerprints have
    // df ~12; docs 1 and 2 also share a GENUINE run carried by df-2
    // fingerprints. cap = 8: boilerplate support vanishes, genuine stays.
    val boiler = "all rights reserved contact the site administrator for details"
    val run = "omega sigma kappa lambda theta gamma delta epsilon zeta eta"
    val docs = ((1 to 12).map { i =>
      val extra = if (i <= 2) s" $run" else ""
      (i.toLong, s"${uniqueTokens(s"d$i", 40)}$extra $boiler")
    }).toDF("doc_id", "text")

    val cap = 8L
    val fps = Winnow.fingerprints(docs, "doc_id", "text", w = 4)
      .select($"doc_id", $"fp").distinct()
      .as[(Long, Long)].collect()
    val df = fps.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    // expected capped pairs rebuilt in Scala from under-cap fps only
    val kept = fps.filter { case (_, fp) => df(fp) <= cap }
    val expected = kept.groupBy(_._2).values.toSeq.flatMap { occ =>
      val ids = occ.map(_._1).sorted.toSeq
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 2L).toMap

    val capped = Winnow.pairs(docs, "doc_id", "text", w = 4,
        minShared = 2L, maxDf = cap)
      .select("id_1", "id_2", "n_shared").as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => ((a, b), n) }.toMap
    assert(capped == expected,
      s"capped pairs must equal pairs over under-cap fingerprints")
    // the gate actually fired: boilerplate fps exist above the cap...
    assert(df.values.exists(_ > cap), "test corpus must have over-cap fps")
    // ...and the genuine pair survived it
    assert(capped.contains((1L, 2L)),
      "the df-2 genuine-overlap pair must survive the boilerplate cap")
    // while uncapped boilerplate-only pairs (e.g. 3-4) are gone
    val uncapped = Winnow.pairs(docs, "doc_id", "text", w = 4,
        minShared = 2L, maxDf = 1000000L)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((3L, 4L)) && !capped.contains((3L, 4L)),
      "boilerplate-carried pairs must be present uncapped and dropped capped")
  }

  test("pairsAuto honors the caller's cap below the threshold, clamps above") {
    val run = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = (1L to 40L).map(i =>
      (i, s"${uniqueTokens(s"u$i", 20)} $run ${uniqueTokens(s"v$i", 20)}"))
      .toDF("doc_id", "text")
    // below the threshold: identical to pairs at the same (inert) cap —
    // the shared run makes every pair, all kept
    val inert = Winnow.pairs(docs, "doc_id", "text", w = 4, minShared = 1L,
      maxDf = Long.MaxValue).collect().toSet
    val autoSmall = Winnow.pairsAuto(docs, "doc_id", "text", w = 4, minShared = 1L,
      maxDf = Long.MaxValue).collect().toSet
    assert(autoSmall == inert && inert.size == 40 * 39 / 2)
    // above the threshold: the cap clamps to max(64, ceil(sqrt(40))) = 64,
    // still above every fingerprint's df here (40) — output unchanged,
    // and equal to pairs at the clamped cap
    val autoBig = Winnow.pairsAuto(docs, "doc_id", "text", w = 4, minShared = 1L,
      maxDf = Long.MaxValue, uncappedMaxDocs = 10L).collect().toSet
    assert(autoBig == Winnow.pairs(docs, "doc_id", "text", w = 4, minShared = 1L,
      maxDf = 64L).collect().toSet)
    // and a clamp that bites (every doc shares the run-minted hot
    // fingerprints, df = 40 > clamp) removes only hot-fp-supported pairs
    val autoTight = Winnow.pairsAuto(docs, "doc_id", "text", w = 4, minShared = 1L,
      maxDf = 39L, uncappedMaxDocs = 10L)
    assert(autoTight.collect().toSet ==
      Winnow.pairs(docs, "doc_id", "text", w = 4, minShared = 1L, maxDf = 39L)
        .collect().toSet)
  }

  test("docs under 3 tokens are excluded, short docs keep their global min") {
    val docs = Seq((1L, "a b"), (2L, "x y z w")).toDF("doc_id", "text")
    val fps = Winnow.fingerprints(docs, "doc_id", "text", w = 4)
      .select("doc_id").as[Long].collect().toSeq
    assert(!fps.contains(1L))
    assert(fps.count(_ == 2L) == 1) // 2 shingles < w -> single global-min fp
  }
}
