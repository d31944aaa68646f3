package graft.catalyst

import graft.{HofReference, SparkSpec}
import graft.dedup.{MinHash, SimHash}
import org.apache.spark.sql.functions._

/** The native codegen'd expressions must be bit-identical to the
  * higher-order-function formulations in [[HofReference]] (both are
  * pinned by the DuckDB oracles; this spec checks them against each other
  * on real text).
  */
class TextHashExpressionsSpec extends SparkSpec {

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "text")

  test("native minhash signature == HOF signature") {
    val a = MinHash.signatures(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = HofReference.signatures(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("native shingles == HOF shingles") {
    val a = MinHash.withShingles(docs, "doc_id", "text")
      .orderBy("doc_id").select("__sh").collect().map(_.getSeq[Long](0)).toSeq
    val b = HofReference.withShingles(docs, "doc_id", "text")
      .orderBy("doc_id").select("__sh").collect().map(_.getSeq[Long](0)).toSeq
    assert(a == b)
  }

  test("native simhash16 and fingerprint == HOF versions") {
    val both = docs.select(
      col("doc_id"),
      call_function("graft_simhash16", col("text")).as("ns"),
      HofReference.simhash(col("text")).as("hs"),
      call_function("graft_fingerprint", col("text")).as("nf"),
      HofReference.fingerprint(col("text")).as("hf"))
    assert(both.filter(col("ns") =!= col("hs") || col("nf") =!= col("hf")).count() == 0)
  }

  test("native simhash64 == HOF simhash64") {
    val both = docs.limit(50).select(
      SimHash.simhash64(col("text")).as("n"),
      HofReference.simhash64(col("text")).as("h"))
    assert(both.filter(col("n") =!= col("h")).count() == 0)
  }

  test("non-ASCII and non-BMP parity: native kernels == HOF versions") {
    import spark.implicits._
    // Spark's length()/ascii() count CODE POINTS (ascii('😀') = 128512 in
    // Spark 4, same as DuckDB); the kernels must agree beyond the BMP,
    // where UTF-16 charAt/length would diverge
    val d = Seq(
      (1L, "héllo wörld caffè naïve résumé"),
      (2L, "€uro sign 12€ price €"),
      (3L, "😀 emoji 😀😀 twice 🚀 rocket end"),
      (4L, "混合 中文 文本 with ascii"),
      (5L, "𝕄athematical 𝔸lphanumeric 𝕊ymbols here now"))
      .toDF("id", "text")
    val both = d.select(
      call_function("graft_simhash16", col("text")).as("ns"),
      HofReference.simhash(col("text")).as("hs"),
      call_function("graft_fingerprint", col("text")).as("nf"),
      HofReference.fingerprint(col("text")).as("hf"))
    assert(both.filter(col("ns") =!= col("hs") || col("nf") =!= col("hf")).count() == 0)
    val a = MinHash.signatures(d, "id", "text")
      .orderBy("id").collect().map(_.toSeq).toSeq
    val b = HofReference.signatures(d, "id", "text")
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("edge cases: empty string, single token, double spaces, nulls") {
    import spark.implicits._
    val d = Seq((1L, ""), (2L, "one"), (3L, "a  b c"), (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val a = MinHash.signatures(d.filter(col("text").isNotNull), "id", "text")
      .orderBy("id").collect().map(_.toSeq).toSeq
    val b = HofReference.signatures(d.filter(col("text").isNotNull), "id", "text")
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b)
    val n = d.filter(col("id") === 4)
      .select(call_function("graft_simhash16", col("text"))).head
    assert(n.isNullAt(0))
  }

  test("graft_nfc composes decomposed accents and passes NFC text through") {
    import spark.implicits._
    val d = Seq(
      (1L, "e\u0301clair"),              // decomposed e + combining acute
      (2L, "\u00e9clair"),               // precomposed, already NFC
      (3L, "plain ascii"),
      (4L, "o\u0308 a\u030a mixed"))     // decomposed o-umlaut, a-ring
      .toDF("id", "text")
    val out = d.select(col("id"),
        call_function("graft_nfc", col("text")).as("nfc"),
        length(col("text")).as("raw_len"),
        length(call_function("graft_nfc", col("text"))).as("nfc_len"))
      .orderBy("id")
      .as[(Long, String, Int, Int)].collect().toSeq
    assert(out(0)._2 == "\u00e9clair" && out(0)._3 == 7 && out(0)._4 == 6)
    assert(out(1)._2 == "\u00e9clair" && out(1)._3 == 6 && out(1)._4 == 6)
    assert(out(2)._2 == "plain ascii" && out(2)._4 == 11)
    assert(out(3)._2 == "\u00f6 \u00e5 mixed" && out(3)._4 == 9)
    // decomposed and precomposed must now hash identically (the reason
    // this pass runs before any char-keyed dedup)
    val fp = d.filter(col("id") <= 2)
      .select(call_function("graft_fingerprint",
        call_function("graft_nfc", col("text")))).collect().map(_.getLong(0))
    assert(fp(0) == fp(1))
    // null stays null
    val n = Seq((5L, null.asInstanceOf[String])).toDF("id", "text")
      .select(call_function("graft_nfc", col("text"))).head
    assert(n.isNullAt(0))
  }
}
