package graft.text

import graft.SparkSpec
import graft.dedup.{MinHash, SimHash}
import graft.similarity.Similarity
import org.apache.spark.sql.functions._

/** Text-analysis, near-dup, and similarity operator sanity. */
class TextSpec extends SparkSpec {
  import spark.implicits._

  test("token and stopword counters") {
    val d = Seq("the quick a fox").toDF("text")
    val out = d.select(
      Text.tokenCount(col("text")),
      Text.stopwordCount(col("text"), Seq("the", "a"))).head
    assert(out.getInt(0) == 4)
    assert(out.getInt(1) == 2)
  }

  test("langId picks argmax language, und when no markers hit") {
    val d = Seq("the cat is of and", "el que de la y", "zzz qqq").toDF("text")
    val out = d.select(Text.langIdHeuristic(col("text"))).as[String].collect().toSeq
    assert(out == Seq("en", "es", "und"))
  }

  test("fingerprint is order-sensitive and deterministic") {
    val d = Seq("a b c", "c b a", "a b c").toDF("text")
    val out = d.select(call_function("graft_fingerprint", col("text"))).as[Long].collect().toSeq
    assert(out(0) == out(2))
    assert(out(0) != out(1))
  }

  test("identical docs share simhash; hamming(identical)=0") {
    val d = Seq(("x", "spark query engine test"), ("y", "spark query engine test"))
      .toDF("id", "text")
    val sigs = d.select(call_function("graft_simhash16", col("text"))).as[Long].collect()
    assert(sigs(0) == sigs(1))
    val h = Seq((sigs(0), sigs(1)), (sigs(0), sigs(0) ^ 5L)).toDF("a", "b")
      .select(SimHash.hamming(col("a"), col("b")).cast("long")).as[Long].collect().toSeq
    assert(h == Seq(0L, 2L))
  }

  test("simhash nearDuplicates is pigeonhole-complete: every pair within maxBits") {
    // near-identical docs differing in one trailing token -> many close
    // fingerprints; completeness is checked against a brute-force scan of
    // the same signatures (catches pairs that differ by one bit in more
    // than one candidate block)
    val docs = (0 until 40).map { i =>
      (i.toLong, s"the quick brown fox jumps over the lazy dog variant$i tail words")
    }.toDF("doc_id", "text")
    val sigs = docs.select(col("doc_id"), call_function("graft_simhash16", col("text")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = (for {
      (i, si) <- sigs; (j, sj) <- sigs if i < j
      h = java.lang.Long.bitCount(si ^ sj) if h <= 2
    } yield (i, j, h.toLong)).toSet
    val got = SimHash.nearDuplicates(docs, "doc_id", "text", maxBits = 2)
      .select(col("id_1"), col("id_2"), col("hamming").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.nonEmpty) // the corpus really produces close pairs
    assert(got == expected)
  }

  test("64-bit nearDuplicates (4x16 pigeonhole, native kernel) matches brute force") {
    val docs = (0 until 40).map { i =>
      (i.toLong, s"the quick brown fox jumps over the lazy dog variant$i tail words")
    }.toDF("doc_id", "text")
    val sigs = docs.select(col("doc_id"), SimHash.simhash64(col("text")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = (for {
      (i, si) <- sigs; (j, sj) <- sigs if i < j
      h = java.lang.Long.bitCount(si ^ sj) if h <= 3
    } yield (i, j, h.toLong)).toSet
    val got = SimHash.nearDuplicates(docs, "doc_id", "text", maxBits = 3, bits = 64)
      .select(col("id_1"), col("id_2"), col("hamming").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("minhash candidatePairs/nearDuplicates skip empty-shingle docs") {
    // short docs share the sentinel minhash signature; without the guard
    // they all band-collide and the Jaccard verify divides 0/0
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base), (2L, base + " tail"),
      (3L, "ok"), (4L, "hi"), (5L, "yo there")) // <3 tokens: empty shingles
      .toDF("doc_id", "text")
    val cand = MinHash.candidatePairs(docs, "doc_id", "text")
      .select(col("id_1"), col("id_2")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.forall { case (a, b) => a <= 2 && b <= 2 }) // no short-doc pairs
    val nd = MinHash.nearDuplicates(docs, "doc_id", "text", minBp = 5000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nd.toSeq == Seq((1L, 2L))) // and the verify never sees a 0/0
  }

  test("prefix-filtered jaccard pairs == brute force over shingle sets") {
    // overlapping near-dup corpus: doc i shares most tokens with doc i+1
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    val docs = (0 until 30).map { i =>
      (i.toLong, (base.drop(i % 3) ++ Seq(s"tail${i / 6}")).mkString(" "))
    }.toDF("doc_id", "text")
    val got = graft.dedup.Jaccard.pairs(docs, "doc_id", "text", minBp = 5000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force from the same shingle sets
    val sets = MinHash.withShingles(docs, "doc_id", "text")
      .select(col("doc_id"), array_distinct(col("__sh")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val expected = (for {
      (i, a) <- sets.toSeq; (j, b) <- sets.toSeq
      if i < j && a.nonEmpty && b.nonEmpty
      inter = (a & b).size
      bp = math.floor(inter * 10000.0 / (a.size + b.size - inter)).toLong
      if bp >= 5000L
    } yield (i, j, bp)).toSet
    assert(expected.nonEmpty)
    assert(got == expected)
  }

  test("df cap drops hot boilerplate shingles; capped result == brute force on capped sets") {
    // every doc opens with the same boilerplate (its leading shingle has
    // df = corpus size — the skewed hot key); docs 2k/2k+1 share a tail so
    // genuine near-dups survive the cap
    // tail tokens must differ under the (length, first char) word code:
    // per pair k they lead with digit k at three lengths, and the per-doc
    // closer is a unique letter repeated a unique number of times
    val docs = (0 until 20).map { i =>
      val k = i / 2
      val uniq = ('a' + i).toChar.toString * (i + 1)
      (i.toLong, s"common boiler plate opening line ${k}a ${k}bb ${k}ccc $uniq")
    }.toDF("doc_id", "text")
    val sets = MinHash.withShingles(docs, "doc_id", "text")
      .select(col("doc_id"), array_distinct(col("__sh")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val df5 = sets.values.flatten.groupBy(identity).map { case (x, xs) => x -> xs.size }
    def brute(capped: Map[Long, Set[Long]], minBp: Long) = (for {
      (i, a) <- capped.toSeq; (j, b) <- capped.toSeq
      if i < j && a.nonEmpty && b.nonEmpty
      inter = (a & b).size
      bp = math.floor(inter * 10000.0 / (a.size + b.size - inter)).toLong
      if bp >= minBp
    } yield (i, j, bp)).toSet
    val cappedSets = sets.map { case (id, s) => id -> s.filter(df5(_) <= 5) }
    val expected = brute(cappedSets, 3000L)
    val got = graft.dedup.Jaccard.pairs(docs, "doc_id", "text", minBp = 3000L, maxDf = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.nonEmpty)
    assert(got == expected)
    // the cap really changed the answer: uncapped brute force links the
    // whole corpus through the boilerplate shingles
    assert(brute(sets, 3000L) != expected)
  }

  test("minhash candidatePairs finds exact duplicates across all bands") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words appear in this document instead"))
      .toDF("doc_id", "text")
    val pairs = MinHash.candidatePairs(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(pairs == Seq((1L, 2L, Hashing.Bands.toLong)))
  }

  test("shingles need at least 3 tokens") {
    val d = Seq((1L, "one two"), (2L, "one two three four")).toDF("id", "text")
    val out = MinHash.withShingles(d, "id", "text")
      .orderBy("id").select(size(col("__sh"))).as[Int].collect().toSeq
    assert(out == Seq(0, 2))
  }

  test("brute-force topk ranks by exact integer dot, ties by id") {
    val d = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.5f, 0.5f)),
      (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(d, d.filter(col("vec_id") === 0), "vec_id", "embedding", 3)
      .orderBy("rank")
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("dot"))).toSeq
    assert(out == Seq((1L, 1000000L), (2L, 500000L), (3L, -1000000L)))
  }

  test("srp bucket groups identical vectors; lsh near-dups find the pair") {
    val d = Seq(
      (0L, Array.fill(Hashing.Dim)(0.1f)),
      (1L, Array.fill(Hashing.Dim)(0.1f)),
      (2L, Array.fill(Hashing.Dim)(-0.1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.lshNearDuplicates(d, "vec_id", "embedding", 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((0L, 1L)))
  }
}
