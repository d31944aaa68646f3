package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Psl
import graft.similarity.Similarity
import graft.text.Hashing._
import graft.text.Text

/** Reference implementations of the codegen'd `graft_*` kernels, written
  * as plain `org.apache.spark.sql.functions` compositions (higher-order
  * array functions, InSet literals). The parity specs pin each kernel
  * against its twin here. They are independent formulations of the same
  * exact-integer algorithms the DuckDB oracles check, and sit on no query
  * path.
  */
object HofReference {

  // ------------------------------------------------------------ text hashes

  /** Array[Long] of word codes for a document. */
  private def wordCodes(text: Column): Column = transform(Text.tokens(text), Text.wordCode(_))

  /** Rolling-hash document fingerprint: fold over word codes,
    * h <- (h * FpB + code) mod FpM. Twin of graft_fingerprint. */
  def fingerprint(text: Column): Column =
    aggregate(wordCodes(text), lit(0L), (h, c) => (h * FpB + c) % FpM)

  /** 3-word shingle hashes over a materialized word-codes array column
    * (empty for docs < 3 tokens). */
  private def shinglesFromCodes(codes: Column): Column =
    when(size(codes) >= 3,
      transform(sequence(lit(1), size(codes) - 2), i =>
        (element_at(codes, i) * ShingleS1 +
          element_at(codes, i + 1) * ShingleS2 +
          element_at(codes, i + 2)) % ShingleM))
      .otherwise(array().cast(ArrayType(LongType)))

  /** j-th minhash of a shingle array column: min over shingles of
    * (A(j) * (x mod P) + B(j)) mod P; P-1 sentinel for empty docs. */
  private def minhash(sh: Column, j: Int): Column =
    coalesce(
      array_min(transform(sh, x => ((x % P) * A(j) + B(j)) % P)),
      lit(P - 1))

  /** id + shingle array `__sh`: twin of
    * [[graft.dedup.MinHash.withShingles]]. Each array stage is its own
    * projection so lambda bodies reference only attributes (an inlined
    * subtree is re-evaluated per element). */
  def withShingles(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), wordCodes(col(textCol)).as("__codes"))
      .select(col(idCol), shinglesFromCodes(col("__codes")).as("__sh"))

  /** id + `__m0..__m{K-1}`: twin of [[graft.dedup.MinHash.signatures]]. */
  def signatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withShingles(df, idCol, textCol)
      .select(col(idCol) +: (0 until K).map(j => minhash(col("__sh"), j).as(s"__m$j")): _*)

  /** Vote sum for bit `i` under multiplier `mult`: sum over tokens of
    * 2*bit_i((code * mult) mod P) - 1. */
  private def bitVote(codes: Column, mult: Long, i: Int): Column =
    aggregate(codes, lit(0L), (acc, c) =>
      acc + (shiftright((c * mult) % P, i).bitwiseAND(lit(1L)) * 2L - 1L))

  /** `SimHashBits`-wide simhash: bit i set iff its vote sum is strictly
    * positive. Twin of graft_simhash16. */
  def simhash(text: Column): Column = {
    val codes = wordCodes(text)
    (0 until SimHashBits)
      .map(i => when(bitVote(codes, TokenHashA, i) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
  }

  /** 64-bit simhash from two 32-bit halves with independent multipliers.
    * Twin of graft_simhash64. */
  def simhash64(text: Column): Column = {
    val codes = wordCodes(text)
    def half(mult: Long, base: Int): Column =
      (0 until 32).map { i =>
        when(bitVote(codes, mult, i) > 0, lit(1L << (base + i))).otherwise(lit(0L))
      }.reduce(_ + _)
    half(TokenHashA, 0) + half(TokenHashB, 32)
  }

  // ---------------------------------------------------------------- vectors

  /** Quantized copy of an embedding: round(x * QuantScale) as long.
    * Twin of graft_quantize. */
  def quantize(v: Column): Column =
    transform(v, x => round(x.cast(DoubleType) * QuantScale).cast(LongType))

  /** Exact integer dot product of two quantized vectors. Twin of graft_qdot. */
  def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** SRP bucket id in [0, 2^SrpPlanes): bit p set iff dot(vec,
    * hyperplane_p) > 0. Twin of graft_srp. */
  def srpBucketFromQuant(q: Column): Column =
    SrpMatrix.zipWithIndex.map { case (plane, p) =>
      val planeCol = array(plane.map(x => lit(x.toLong)): _*)
      when(intDot(q, planeCol) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Twin of [[Similarity.bruteForceTopK]]. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), quantize(col(vecCol)).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), quantize(col(vecCol)).as("__cv"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        intDot(col("__qv"), col("__cv")).as("dot"))
    Similarity.topKPerQuery(scored, "dot", k)
  }

  /** Twin of [[Similarity.lshNearDuplicates]]. */
  def lshNearDuplicates(df: DataFrame, idCol: String, vecCol: String, minDot: Long): DataFrame = {
    val b = df.select(col(idCol).as("__id"), quantize(col(vecCol)).as("__v"))
      .select(col("__id"), col("__v"), srpBucketFromQuant(col("__v")).as("__bucket"))
    val l = b.as("l")
    val r = b.as("r")
    l.join(r, col("l.__bucket") === col("r.__bucket") && col("l.__id") < col("r.__id"))
      .select(
        col("l.__id").as("id_1"),
        col("r.__id").as("id_2"),
        intDot(col("l.__v"), col("r.__v")).as("dot"))
      .filter(col("dot") >= minDot)
  }

  // ------------------------------------------------------------ token spans

  /** Every k-token anchor per document as one array column: twin of
    * graft_token_grams (empty for docs shorter than k). */
  def tokenGrams(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(split(col(textCol), " ").as("__tk"))
      .select(when(size(col("__tk")) >= k, expr(
        s"""transform(sequence(0, size(__tk) - $k),
           | p -> array_join(slice(__tk, p + 1, $k), ' '))""".stripMargin))
        .otherwise(expr("CAST(array() AS array<string>)")).as("__gr"))

  /** Fixed-width non-overlapping `w`-token chunks per document as one
    * array column: twin of graft_token_chunks. */
  def tokenChunks(docs: DataFrame, textCol: String, w: Int): DataFrame =
    docs.select(split(col(textCol), " ").as("__tk"))
      .select(expr(
        s"""transform(sequence(0, (size(__tk) - 1) div $w),
           | i -> array_join(slice(__tk, i * $w + 1, $w), ' '))""".stripMargin)
        .as("__gr"))

  /** Plain winnowing fingerprints (idCol, pos, fp) over the shingle
    * stream — per-window array_min with the leftmost tie, de-duplicated
    * by (pos, fp): twin of [[graft.dedup.Winnow.fingerprints]]. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    require(w > 0, s"window must be positive, got $w")
    withShingles(docs.select(col(idCol).as("__id"), col(textCol)), "__id", textCol)
      .filter(size(col("__sh")) > 0)
      .select(col("__id"), expr(
        s"""transform(sequence(0, greatest(size(__sh) - $w, 0)),
           | j -> slice(__sh, j + 1, $w))""".stripMargin).as("__wins"))
      .select(col("__id"), explode(expr(
        """array_distinct(transform(__wins, (wd, j) ->
          | struct(j + array_position(wd, array_min(wd)) AS pos,
          |        array_min(wd) AS fp)))""".stripMargin)).as("__f"))
      .select(col("__id").as(idCol),
        col("__f.pos").as("pos"), col("__f.fp").as("fp"))
  }

  // -------------------------------------------------------------------- PSL

  private def byLen(rules: Set[String]): Map[Int, Seq[String]] =
    rules.groupBy(_.count(_ == '.') + 1).map { case (k, v) => k -> v.toSeq.sorted }
  private lazy val normalByLen = byLen(Psl.rules.normal)
  private lazy val wildByLen = byLen(Psl.rules.wildcards)
  private lazy val excByLen = byLen(Psl.rules.exceptions)

  private def lastLabels(host: Column, k: Int): Column =
    if (k <= 0) lit("") else substring_index(host, ".", -k)

  /** Label count of `host`'s public suffix as one InSet-literal coalesce
    * chain: exception rules first (longest wins, suffix = exception minus
    * one label), then normal/wildcard matches in descending effective
    * length, then the default rule (1). Twin of graft_psl_labels. */
  def publicSuffixLabels(host: Column): Column = {
    val n = size(split(host, "\\."))
    val excArms = excByLen.keys.toSeq.sorted.reverse.map { k =>
      when(n >= k, when(lastLabels(host, k).isInCollection(excByLen(k)), lit(k - 1)))
    }
    val maxEff = ((normalByLen.keys ++ wildByLen.keys.map(_ + 1)) ++ Seq(1)).max
    val bodyArms = (maxEff to 2 by -1).flatMap { e =>
      val hits =
        normalByLen.get(e).map(s => lastLabels(host, e).isInCollection(s)).toSeq ++
          wildByLen.get(e - 1).map(s => lastLabels(host, e - 1).isInCollection(s))
      if (hits.isEmpty) None
      else Some(when(n >= e, when(hits.reduce(_ || _), lit(e))))
    }
    when(host.isNotNull, coalesce((excArms ++ bodyArms :+ lit(1)): _*))
  }
}
