package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}

/** Corpus-global exact span deduplication (the C4-style "remove repeated
  * spans" pass): documents are cut into fixed-width non-overlapping token
  * chunks, every chunk occurrence after the corpus-wide first one is
  * dropped, and each document is re-assembled from its surviving chunks in
  * original order. Catches boilerplate and quoted passages that whole-doc
  * dedup misses, without the quadratic cost of substring comparison.
  *
  * First occurrence is defined by (doc id, chunk index) order, so the
  * result is deterministic on any partitioning. Physical shape: one
  * explode (narrow), a map-side-combinable min-aggregate + hash-join-back
  * on the chunk for keep-first (the [[SpanDedup.dedupSpans]] shape — a
  * window would ship every occurrence of a boilerplate mega-chunk to ONE
  * reducer and sort it there; the aggregate collapses it per map task
  * before the exchange, and the join build side holds only repeated
  * chunks), one exchange back on doc id for re-assembly — shuffle linear
  * in corpus token count, nothing driver-side.
  *
  * [[dedupChunks]] cuts chunks with the graft_token_chunks kernel, so it
  * needs a session with [[graft.catalyst.GraftExtensions]]
  * (`graft.Sessions.build`).
  */
object ChunkDedup {

  /** keep = this occurrence is the corpus-wide first of its chunk, by
    * (doc id, index) order, computed as a hash-aggregate min + join-back
    * instead of a per-chunk window (see [[SpanDedup.dedupSpans]] for why
    * the encoding keeps the aggregate a codegen'd HASH aggregate: for
    * integral ids, id * 2^32 + idx is strictly monotone in lexicographic
    * (id, idx) and exact as decimal(38,0); non-integral ids fall back to
    * the generic struct min). Unique chunks never enter the join build
    * side — only repeated chunks do, typically a small fraction. */
  private def withKeepFirst(
      chunks: DataFrame,
      idIsIntegral: Boolean,
      idxCol: String): DataFrame = {
    def firstKey: Column =
      if (idIsIntegral)
        col("__id").cast(DecimalType(38, 0)) * lit(4294967296L) + col(idxCol)
      else struct(col("__id"), col(idxCol))
    val firsts = chunks
      .groupBy(col("chunk"))
      .agg(min(firstKey).as("__first"), count(lit(1)).as("__occ"))
      .where(col("__occ") > lit(1L))
      .select(col("chunk"), col("__first"))
    chunks
      .join(firsts.hint("shuffle_hash"), Seq("chunk"), "left")
      .withColumn("keep",
        col("__first").isNull || firstKey === col("__first"))
      .drop("__first")
  }

  private def integralId(docs: DataFrame, idCol: String): Boolean =
    docs.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }

  /** Per-document dedup summary: (idCol, n_chunks, n_kept, dedup_text).
    * `dedup_text` is the space-joined surviving chunks (empty string when
    * every chunk of the document was seen earlier in the corpus). */
  def dedupChunks(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int = 32): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    // chunk extraction is the codegen'd graft_token_chunks kernel (one
    // boundary scan + shared-byte substrings; TokenGramsPropertySpec pins
    // it against a test-scope transform/slice/array_join reference)
    val chunks = docs
      .select(col(idCol).as("__id"),
        posexplode(call_function("graft_token_chunks", col(textCol), lit(chunkTokens)))
          .as(Seq("chunk_idx", "chunk")))
    withKeepFirst(chunks, integralId(docs, idCol), "chunk_idx")
      .groupBy(col("__id").as(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          expr("transform(array_sort(filter(collect_list(struct(chunk_idx, chunk, keep)), " +
            "x -> x.keep)), x -> x.chunk)"),
          " ").as("dedup_text"))
  }

  /** Content-defined chunking dedup: chunk boundaries fall AFTER any token
    * whose word code divides `divisor` (a rolling-content condition, not a
    * fixed stride), so inserting or deleting a token only re-cuts the one
    * chunk it lands in — every later boundary re-synchronizes. Fixed-width
    * chunking (dedupChunks) shifts ALL downstream chunk frames after an
    * edit and misses every repeated span that follows; this is the
    * rsync/LBFS trick that keeps span dedup robust to prefix edits.
    * Expected chunk length = divisor tokens; the divisor must be coprime
    * with Hashing.WordBase (96) or the boundary rule collapses to a
    * first-character test (96 % 16 == 0 would ignore token length). Production CDC adds min/max
    * chunk clamps; omitted here to keep the boundary rule one predicate.
    *
    * Same output and dedup semantics as dedupChunks. Physical shape: one
    * posexplode (narrow), a per-doc prefix-sum window for chunk ids (one
    * exchange on doc id, the tokenPack shape), then the same skew-proof
    * min-aggregate keep-first and doc-id re-assembly — still linear in
    * corpus token count. */
  def cdcChunks(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      divisor: Int = 13): DataFrame = {
    require(divisor > 0, s"divisor must be positive, got $divisor")
    val toks = docs
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), " ")).as(Seq("__pos", "__tok")))
      .withColumn("__flag",
        when(Text.wordCode(col("__tok")) % divisor === 0, 1L).otherwise(0L))
    val wPrev = Window.partitionBy(col("__id")).orderBy(col("__pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = toks
      .withColumn("chunk_id", coalesce(sum(col("__flag")).over(wPrev), lit(0L)))
      .groupBy(col("__id"), col("chunk_id"))
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(__pos, __tok))), x -> x.__tok)"),
        " ").as("chunk"))
    withKeepFirst(chunks, integralId(docs, idCol), "chunk_id")
      .groupBy(col("__id").as(idCol))
      .agg(
        count(lit(1)).cast(LongType).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          expr("transform(array_sort(filter(collect_list(struct(chunk_id, chunk, keep)), " +
            "x -> x.keep)), x -> x.chunk)"),
          " ").as("dedup_text"))
  }
}
