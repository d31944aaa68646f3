package graft.text

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.{HofReference, SparkSpec}
import graft.catalyst.TextHashKernels

/** r20: the native graft_token_grams / graft_token_chunks kernels must
  * emit EXACTLY the strings of the original higher-order formulations
  * (transform over sequence, slice, array_join with ' '). Pins:
  *
  *  1. ScalaCheck properties against an independent sequential reference
  *     (String.split(" ", -1), slice, mkString(" ")) over docs with
  *     empty tokens (consecutive / leading / trailing spaces — the
  *     boundary cases of the byte-offset identity) and multi-byte
  *     unicode tokens (a space byte never occurs inside a multi-byte
  *     UTF-8 sequence; these verify it);
  *  2. DataFrame equality of the kernel call vs the retained HOF twins
  *     ([[HofReference.tokenGrams]], [[HofReference.tokenChunks]]).
  */
class TokenGramsPropertySpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def refGrams(text: String, k: Int): Seq[String] = {
    val tk = text.split(" ", -1)
    if (tk.length < k) Seq.empty
    else (0 to tk.length - k).map(p => tk.slice(p, p + k).mkString(" "))
  }

  private def refChunks(text: String, w: Int): Seq[String] = {
    val tk = text.split(" ", -1)
    (0 to (tk.length - 1) / w).map(i => tk.slice(i * w, i * w + w).mkString(" "))
  }

  private def arr(a: org.apache.spark.sql.catalyst.util.ArrayData): Seq[String] =
    (0 until a.numElements()).map(i => a.getUTF8String(i).toString)

  // empty tokens (runs of spaces), unicode incl. multi-byte + astral
  private val genToken: Gen[String] = Gen.oneOf(
    Gen.const(""), Gen.alphaLowerStr.map(_.take(5)),
    Gen.oneOf("é", "漢字", "aéb", "😀", "ß"))
  private val genDoc: Gen[(String, Int)] = for {
    n <- Gen.choose(0, 40)
    toks <- Gen.listOfN(n, genToken)
    k <- Gen.choose(1, 9)
  } yield (toks.mkString(" "), k)

  test("tokenGrams kernel == sequential split/slice/join reference") {
    val prop = Prop.forAll(genDoc) { case (text, k) =>
      arr(TextHashKernels.tokenGrams(UTF8String.fromString(text), k)) == refGrams(text, k)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("tokenChunks kernel == sequential split/slice/join reference") {
    val prop = Prop.forAll(genDoc) { case (text, w) =>
      arr(TextHashKernels.tokenChunks(UTF8String.fromString(text), w)) == refChunks(text, w)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("kernel expressions == retained HOF twins as frames") {
    val docs = (1L to 40L).map { i =>
      val rng = new scala.util.Random(i)
      val toks = Seq.fill(rng.nextInt(70))(rng.nextInt(5) match {
        case 0 => ""
        case 1 => "é" + rng.nextInt(9)
        case _ => s"t${rng.nextInt(9)}"
      })
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    for (k <- Seq(1, 4, 8, 32)) {
      val kernelG = docs
        .select(call_function("graft_token_grams", col("text"), lit(k)).as("__gr"))
        .as[Seq[String]].collect().toSeq
      val hofG = HofReference.tokenGrams(docs, "text", k)
        .as[Seq[String]].collect().toSeq
      assert(kernelG == hofG, s"token-grams kernel/HOF divergence at k=$k")
      val kernelC = docs
        .select(call_function("graft_token_chunks", col("text"), lit(k)).as("__gr"))
        .as[Seq[String]].collect().toSeq
      val hofC = HofReference.tokenChunks(docs, "text", k)
        .as[Seq[String]].collect().toSeq
      assert(kernelC == hofC, s"token-chunks kernel/HOF divergence at w=$k")
    }
  }
}
