package graft.dedup

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.{HofReference, SparkSpec}
import graft.catalyst.TextHashKernels

/** r19: the native graft_winnow kernel (monotonic-deque window minima)
  * must select EXACTLY the fingerprints of the original higher-order
  * formulation — transform windows, array_min, array_position first
  * match, array_distinct global dedup. Two pins:
  *
  *  1. a ScalaCheck property against an independent sequential reference
  *     of the HOF semantics (slice windows, min, first index, global
  *     distinct) over tie-heavy token streams (tiny alphabet => constant
  *     shingle runs, the winnowing degenerate case);
  *  2. a DataFrame equality test of Winnow.fingerprints (kernel path) vs
  *     HofReference.winnowFingerprints (the HOF form) on generated docs.
  */
class WinnowKernelPropertySpec extends SparkSpec {
  import spark.implicits._

  /** Sequential reference of the HOF formulation's semantics. */
  private def reference(sh: Array[Long], w: Int): Seq[(Long, Long)] = {
    if (sh.isEmpty) return Seq.empty
    (0 to math.max(sh.length - w, 0)).map { j =>
      val wd = sh.slice(j, j + w) // slice clamps at the end like SQL slice
      val m = wd.min
      (j + wd.indexOf(m) + 1L, m) // array_position is 1-based
    }.distinct
  }

  private def kernelPairs(text: String, w: Int): Seq[(Long, Long)] = {
    val arr = TextHashKernels.winnow(UTF8String.fromString(text), w)
    (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 2)
      (r.getLong(0), r.getLong(1))
    }
  }

  // tiny alphabets force word-code collisions -> tied window minima;
  // longer words mix in diverse codes
  private val genToken: Gen[String] =
    Gen.oneOf(Gen.oneOf("a", "b", "c"), Gen.alphaLowerStr.map(_.take(6)))
  private val genDoc: Gen[(String, Int)] = for {
    n <- Gen.choose(0, 60)
    toks <- Gen.listOfN(n, genToken)
    w <- Gen.choose(1, 7)
  } yield (toks.mkString(" "), w)

  test("kernel == sequential HOF reference on tie-heavy random docs") {
    val prop = Prop.forAll(genDoc) { case (text, w) =>
      val sh = {
        val a = TextHashKernels.shingles(UTF8String.fromString(text))
        (0 until a.numElements()).map(a.getLong).toArray
      }
      kernelPairs(text, w) == reference(sh, w)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("Winnow.fingerprints (kernel) == fingerprintsHof (expression) as frames") {
    val docs = (1L to 40L).map { i =>
      val rng = new scala.util.Random(i)
      val n = rng.nextInt(50)
      val toks = Seq.fill(n)(
        if (rng.nextBoolean()) "abc".charAt(rng.nextInt(3)).toString
        else s"t${rng.nextInt(9)}")
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    for (w <- Seq(1, 4, 8)) {
      val kernel = Winnow.fingerprints(docs, "doc_id", "text", w)
        .as[(Long, Long, Long)].collect().toSet
      val hof = HofReference.winnowFingerprints(docs, "doc_id", "text", w)
        .as[(Long, Long, Long)].collect().toSet
      assert(kernel == hof, s"kernel/HOF divergence at w=$w")
    }
  }
}
