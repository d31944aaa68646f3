package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.text.Hashing

/** Incremental (cross-corpus) deduplication: dedup a NEW batch against an
  * existing REFERENCE corpus — the crawl-refresh shape, where the
  * reference is already curated and must not be re-processed.
  *
  * Two guards, both one-sided joins:
  *  - exact: text fingerprint, new left-semi'd against reference
  *    fingerprints to find drops;
  *  - near: LSH band keys, new bands equi-joined to reference bands
  *    (never all-pairs), candidates verified with the exact shingle-set
  *    Jaccard before dropping.
  *
  * Scale: the reference side's fingerprints, band keys, and shingle sets
  * are pure projections persisted ONCE as the [[Index]] (three parquet
  * tables); each refresh then reads the index — never the reference text —
  * and shuffles only the NEW batch plus the band-key slice of the index it
  * collides with. Within-batch duplicates are deliberately untouched —
  * this operator's contract is purely "not already in the reference"; run
  * the normal in-corpus dedup on the batch separately.
  *
  * Fingerprints, band keys and shingle sets come from the `graft_*`
  * kernels, so building an index or computing survivors needs a session
  * with [[graft.catalyst.GraftExtensions]] (`graft.Sessions.build`).
  */
object Incremental {

  /** The persisted reference-side state: everything `survivors` ever reads
    * about the reference corpus. `fps` = (__id, __fp) exact fingerprints;
    * `bands` = (__id, __key) exploded LSH band keys (short docs excluded,
    * see [[bandKeys]]); `sets` = (__sid, __set) distinct shingle sets for
    * the Jaccard verify. All three are cheap narrow projections of the
    * reference text — building the index is one pass, after which refreshes
    * are reference-text-free. */
  final case class Index(fps: DataFrame, bands: DataFrame, sets: DataFrame)

  private def fp(d: DataFrame, idCol: String, textCol: String) =
    d.select(col(idCol).as("__id"),
      call_function("graft_fingerprint", col(textCol)).as("__fp"))

  // docs under 3 tokens have EMPTY shingle sets and all share the P-1
  // sentinel signature — without this prefilter every short new doc
  // band-collides with every short reference doc (an M x N candidate
  // blow-up) only for the Jaccard verify to discard each pair; dropping
  // them from the band legs is semantics-neutral (the exact-fingerprint
  // guard still catches short duplicates)
  private def bandKeys(d: DataFrame, idCol: String, textCol: String) = {
    val keys = (0 until Hashing.Bands)
      .map(b => concat_ws("#", lit(b), col(s"band_$b")))
    MinHash.bands(d.filter(size(split(col(textCol), " ")) >= 3),
        idCol, textCol)
      .select(col(idCol).as("__id"), explode(array(keys: _*)).as("__key"))
  }

  // same >=3-token guard as bandKeys: candidates only ever reference docs
  // with band keys, so an empty-shingle doc's set row is dead weight in the
  // persisted index and in every refresh's verify join
  private def sets(d: DataFrame, idCol: String, textCol: String) =
    MinHash.withShingles(d.filter(size(split(col(textCol), " ")) >= 3),
        idCol, textCol)
      .select(col(idCol).as("__sid"), array_distinct(col("__sh")).as("__set"))

  /** One pass over the reference text -> the three index projections. */
  def buildIndex(
      refDocs: DataFrame,
      idCol: String,
      textCol: String): Index = Index(
    fps = fp(refDocs, idCol, textCol),
    bands = bandKeys(refDocs, idCol, textCol),
    sets = sets(refDocs, idCol, textCol))

  /** Persist an index as three parquet tables under `path`. `bands` is
    * written partitioned-friendly (plain parquet; a production deployment
    * could additionally bucket it by __key so each refresh's band join is
    * shuffle-free on the reference side). */
  def saveIndex(index: Index, path: String): Unit = {
    index.fps.write.mode("overwrite").parquet(s"$path/fps")
    index.bands.write.mode("overwrite").parquet(s"$path/bands")
    index.sets.write.mode("overwrite").parquet(s"$path/sets")
  }

  /** Reload a persisted index — pure parquet scans, no reference text, no
    * hash recomputation. */
  def loadIndex(spark: SparkSession, path: String): Index = Index(
    fps = spark.read.parquet(s"$path/fps"),
    bands = spark.read.parquet(s"$path/bands"),
    sets = spark.read.parquet(s"$path/sets"))

  /** Rows of `newDocs` that neither exactly nor nearly (>= minBp Jaccard
    * over 3-shingle sets) duplicate any document in the reference
    * `index`. Only the NEW batch's text is hashed here. */
  def survivors(
      newDocs: DataFrame,
      index: Index,
      idCol: String,
      textCol: String,
      minBp: Long): DataFrame = {
    val exactDrop = fp(newDocs, idCol, textCol)
      .join(index.fps.select(col("__fp")), Seq("__fp"), "left_semi")
      .select(col("__id"))

    val cand = bandKeys(newDocs, idCol, textCol).as("n")
      .join(index.bands.as("r"), col("n.__key") === col("r.__key"))
      .select(col("n.__id").as("nid"), col("r.__id").as("rid"))
      .distinct()
    val nearDrop = cand
      .join(sets(newDocs, idCol, textCol).as("sa"), col("nid") === col("sa.__sid"))
      .join(index.sets.as("sb"), col("rid") === col("sb.__sid"))
      .withColumn("inter",
        size(array_intersect(col("sa.__set"), col("sb.__set"))).cast(LongType))
      .withColumn("szsum",
        (size(col("sa.__set")) + size(col("sb.__set"))).cast(LongType))
      .withColumn("jaccard_bp",
        floor(col("inter").cast(DoubleType) * 10000d /
          (col("szsum") - col("inter")).cast(DoubleType)).cast(LongType))
      .filter(col("jaccard_bp") >= minBp)
      .select(col("nid").as("__id"))
      .distinct()

    val drops = exactDrop.union(nearDrop).distinct().withColumnRenamed("__id", idCol)
    newDocs.join(drops, Seq(idCol), "left_anti")
  }

  /** Rows of `newDocs` that neither exactly nor nearly (>= minBp Jaccard
    * over 3-shingle sets) duplicate any reference document. Builds the
    * reference index inline — the one-shot form; a production refresh loop
    * uses [[buildIndex]]/[[saveIndex]] once and [[loadIndex]] per batch. */
  def survivors(
      newDocs: DataFrame,
      refDocs: DataFrame,
      idCol: String,
      textCol: String,
      minBp: Long): DataFrame =
    survivors(newDocs, buildIndex(refDocs, idCol, textCol),
      idCol, textCol, minBp)
}
