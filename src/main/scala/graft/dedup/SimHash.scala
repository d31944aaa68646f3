package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.text.Hashing._

/** SimHash near-duplicate fingerprinting.
  *
  * Each token's word code is hashed to a bit pattern; per bit position the
  * document accumulates +1/-1 votes over its tokens; the sign of each vote
  * sum yields one fingerprint bit. Near-duplicate docs differ in few bits
  * (Hamming distance).
  *
  * Both widths are exact-integer and run as codegen'd kernels: the
  * `SimHashBits`-bit graft_simhash16 (the form the DuckDB oracle checks)
  * and the production-width graft_simhash64. Every entry point needs a
  * session with [[graft.catalyst.GraftExtensions]] (`graft.Sessions.build`).
  */
object SimHash {

  /** 64-bit simhash: the same construction with two 32-bit halves drawn
    * from independent multipliers (TokenHashA, TokenHashB), computed by
    * the codegen'd graft_simhash64 kernel. */
  def simhash64(text: Column): Column = call_function("graft_simhash64", text)

  /** Hamming distance between two simhash columns. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-duplicate pairs by simhash: ALL pairs of docs whose fingerprints
    * differ in at most `maxBits` bits. Candidate generation splits the
    * fingerprint into `maxBits + 1` contiguous bit blocks: two fingerprints
    * within Hamming distance maxBits must agree exactly on at least one
    * block (pigeonhole), so the union of the per-block equi-joins is a
    * complete candidate set and the Hamming filter below makes it exact.
    * Block boundaries are `i * bits / (maxBits+1)` on both the Spark and
    * oracle sides. */
  def blockBounds(bits: Int, maxBits: Int): Seq[(Int, Int)] = {
    val n = maxBits + 1
    (0 until n).map(i => (i * bits / n, (i + 1) * bits / n))
  }

  def nearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxBits: Int = 2,
      bits: Int = SimHashBits): DataFrame = {
    require(maxBits + 1 <= bits, s"need at least one bit per block: $maxBits+1 blocks over $bits bits")
    // repartition materializes the signature computation once as a shuffle
    // stage all join branches ((maxBits+1) blocks x 2 sides) reuse
    val sigExpr = bits match {
      case SimHashBits => call_function("graft_simhash16", col(textCol))
      case 64          => simhash64(col(textCol))
      case other => throw new IllegalArgumentException(
        s"no simhash kernel for $other bits (have $SimHashBits and 64)")
    }
    val bounds = blockBounds(bits, maxBits)
    val withSig = bounds.zipWithIndex
      .foldLeft(df.select(col(idCol).as("__id"), sigExpr.as("__sig"))) {
        case (d, ((lo, hi), i)) =>
          // 1L << 64 wraps to 1, so a single 64-bit block needs the -1 mask
          val mask = if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1
          d.withColumn(s"__b$i", shiftright(col("__sig"), lo).bitwiseAND(lit(mask)))
      }
      .repartition(col("__id"))
    // an OR join would force a nested-loop cross product; per-block
    // equi-joins (hash exchanges on small keys) scale instead. Each pair is
    // emitted ONLY by its first matching block (block i additionally
    // requires blocks j < i to differ), so the union is exactly-once by
    // construction — no distinct() shuffle over the full pair set.
    def block(i: Int): DataFrame = {
      val l = withSig.as("l")
      val r = withSig.as("r")
      val firstMatch = (0 until i)
        .map(j => col(s"l.__b$j") =!= col(s"r.__b$j"))
        .foldLeft(col(s"l.__b$i") === col(s"r.__b$i") && col("l.__id") < col("r.__id"))(_ && _)
      l.join(r, firstMatch)
        .select(
          col("l.__id").as("id_1"),
          col("r.__id").as("id_2"),
          hamming(col("l.__sig"), col("r.__sig")).as("hamming"))
    }
    bounds.indices.map(block)
      .reduce(_ unionByName _)
      .filter(col("hamming") <= maxBits)
  }
}
