package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.text.Hashing._

/** MinHash + LSH near-duplicate detection over a text column.
  *
  * Pipeline (all narrow until the final candidate-pair join):
  *   shingle (3-word windows, exact integer hash) -> k minhash values ->
  *   band keys (Bands x RowsPerBand) -> explode bands -> self-join on band
  *   key -> distinct candidate pairs with estimated Jaccard.
  *
  * At scale the only shuffle is the band-bucket join, whose key cardinality
  * grows with corpus size (good skew behavior: near-dup clusters share
  * buckets, unrelated docs almost never do). Everything upstream is
  * per-row expression work inside whole-stage codegen: the shingle and
  * signature stages are the codegen'd `graft_*` kernels, so every entry
  * point needs a session with [[graft.catalyst.GraftExtensions]]
  * (`graft.Sessions.build`).
  */
object MinHash {

  /** id + materialized shingle array `__sh` (3-word shingle hashes, exact
    * arithmetic per graft.text.Hashing; empty for docs < 3 tokens), from
    * the codegen'd graft_shingles kernel. */
  def withShingles(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), call_function("graft_shingles", col(textCol)).as("__sh"))

  /** id + k minhash signature columns `__m0..__m{k-1}`: the j-th minhash is
    * min over shingles of (A(j) * (x mod P) + B(j)) mod P, P-1 for empty
    * docs. The whole signature comes from one graft_minhash_sig call. */
  def signatures(df: DataFrame, idCol: String, textCol: String, k: Int = K): DataFrame = {
    require(k <= K, s"graft_minhash_sig computes K=$K minhashes")
    df.select(col(idCol), call_function("graft_minhash_sig", col(textCol)).as("__sig"))
      .select(col(idCol) +: (0 until k).map(j => element_at(col("__sig"), j + 1).as(s"__m$j")): _*)
  }

  /** id + LSH band-key columns `band_0..band_{bands-1}`: each band is the
    * string concatenation of RowsPerBand consecutive minhash values (strings
    * sidestep 64-bit overflow when combining several ~2^31 values). */
  def bands(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = Bands,
      rows: Int = RowsPerBand): DataFrame =
    signatures(df, idCol, textCol, bands * rows)
      .select(col(idCol) +: (0 until bands).map { b =>
        concat_ws("_", (b * rows until (b + 1) * rows).map(j => col(s"__m$j")): _*)
          .as(s"band_$b")
      }: _*)

  /** Candidate near-duplicate pairs: docs sharing at least one LSH band.
    * Output: (id_1, id_2) with id_1 < id_2, plus `n_bands` = number of
    * shared bands.
    *
    * Docs under 3 tokens have EMPTY shingle sets and all share the P-1
    * sentinel signature, so without the prefilter every short doc
    * band-collides with every other short doc (an M x N candidate blow-up)
    * and the downstream Jaccard verify divides 0/0. Dropping them is
    * semantics-neutral: an empty shingle set is a near-duplicate of
    * nothing. (Same guard as Incremental.bandKeys.) */
  def candidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nBands: Int = Bands,
      rows: Int = RowsPerBand): DataFrame = {
    val keys = (0 until nBands).map(b => concat_ws("#", lit(b), col(s"band_$b")))
    val banded = bands(df.filter(size(split(col(textCol), " ")) >= 3),
        idCol, textCol, nBands, rows)
      .select(col(idCol).as("__id"), explode(array(keys: _*)).as("__key"))
    val l = banded.as("l")
    val r = banded.as("r")
    l.join(r, col("l.__key") === col("r.__key") && col("l.__id") < col("r.__id"))
      .groupBy(col("l.__id").as("id_1"), col("r.__id").as("id_2"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Candidate pairs refined with the exact shingle-set Jaccard (computed by
    * re-joining the pair ids against per-doc distinct shingle sets). Returns
    * pairs with jaccard_bp = floor(10000 * |A∩B| / |A∪B|) >= minBp. */
  def nearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minBp: Long): DataFrame = {
    val pairs = candidatePairs(df, idCol, textCol)
    val sets = withShingles(df, idCol, textCol)
      .select(col(idCol).as("__sid"), array_distinct(col("__sh")).as("__set"))
    pairs
      .join(sets.as("sa"), col("id_1") === col("sa.__sid"))
      .join(sets.as("sb"), col("id_2") === col("sb.__sid"))
      .select(
        col("id_1"), col("id_2"),
        size(array_intersect(col("sa.__set"), col("sb.__set"))).cast(LongType).as("inter"),
        (size(col("sa.__set")) + size(col("sb.__set"))).cast(LongType).as("szsum"))
      .withColumn("jaccard_bp",
        floor(col("inter").cast(DoubleType) * 10000d /
          (col("szsum") - col("inter")).cast(DoubleType)).cast(LongType))
      .filter(col("jaccard_bp") >= minBp)
      .select("id_1", "id_2", "jaccard_bp")
  }
}
