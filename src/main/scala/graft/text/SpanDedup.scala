package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}

/** Position-level exact substring deduplication ("ExactSubstr"): every
  * maximal repeated token span of length >= `gramTokens` keeps only its
  * corpus-wide first occurrence; all later occurrences are excised from
  * their documents, token by token, and each document is re-assembled
  * from its surviving tokens in original order.
  *
  * This is the span-granular sibling of [[ChunkDedup]]: fixed/CDC chunking
  * only catches repeats that align with chunk frames, while the k-gram
  * anchor here slides over EVERY token position, so any shared span
  * >= k tokens is caught regardless of alignment — the property the
  * suffix-array formulation of exact-substring dedup provides, re-expressed
  * as a group-by instead of a global suffix sort.
  *
  * Semantics: an occurrence of a k-gram is redundant when an identical
  * k-gram occurs earlier in (doc id, position) order anywhere in the
  * corpus. Redundant gram starts expand to their k covered positions;
  * covered positions are removed. Overlapping redundant grams union into
  * maximal excised spans, so a repeated 30-token span at k=8 is removed
  * whole (23 overlapping anchors cover all 30 tokens), not in chunks.
  * First occurrences stay intact unless a DIFFERENT overlapping span
  * already covered those positions — the same one-copy-survives guarantee
  * the reference formulation makes.
  *
  * Physical shape: one posexplode for grams (narrow, k tokens of payload
  * per position), a map-side-combinable min-aggregate + hash-join-back on
  * the gram for keep-first (skew-proof — see [[dedupSpans]]), then ONE
  * exchange of the redundant gram starts (int pairs) into per-doc start
  * sets and one join back to the original text; re-assembly is a pure
  * projection over the text column (see [[excise]] — the corpus token
  * stream itself never shuffles and no aggregate ever holds a document's
  * tokens). Shuffle is linear in gram count on the keep-first leg and in
  * EXCISED-span count on the excise leg, nothing driver-side, no
  * all-pairs stage anywhere. At
  * 100 TB the gram text dominates shuffle bytes; `hashGrams = true` keys
  * the window by xxhash64 of the gram instead (8x fewer bytes at k=8, the
  * production setting; a 64-bit collision at web scale is vanishingly rare
  * and costs one extra dropped span, not a wrong pipeline). The catalog
  * path keeps the exact gram text so the DuckDB oracle is bit-identical.
  *
  * Gram extraction is the graft_token_grams kernel, so every entry point
  * needs a session with [[graft.catalyst.GraftExtensions]]
  * (`graft.Sessions.build`).
  */
object SpanDedup {

  /** (__id, __p, __gram): every k-token anchor of every document, with its
    * start position. Documents shorter than k contribute nothing (the
    * kernel returns an empty array; posexplode then yields no rows).
    *
    * The anchor extraction is the codegen'd graft_token_grams kernel —
    * one boundary scan plus shared-byte substrings (TokenGramsPropertySpec
    * pins it against a test-scope transform/slice/array_join reference). */
  private def gramsOf(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("__id"),
        call_function("graft_token_grams", col(textCol), lit(k)).as("__gr"))
      .select(col("__id"), posexplode(col("__gr")).as(Seq("__p", "__gram")))

  /** Remove the spans the redundant gram starts cover: per-document
    * summary (idCol, n_tokens, n_removed, dedup_text) with the survivors
    * in original order.
    *
    * Scale shape (the round-13 rewrite): the ONLY aggregation is
    * `collect_set` of redundant gram STARTS — an int set per
    * CONTAMINATED document, O(redundant spans) state; clean documents
    * contribute no aggregate rows at all. The deduped text is then
    * re-derived from the original text column as a pure projection:
    * kept positions = `array_except(sequence(0, n-1), flatten(covered
    * ranges))` (hash-set semantics, duplicates from overlapping spans
    * collapse for free), tokens re-read by `element_at`. The previous
    * formulation posexploded the WHOLE corpus to (doc, pos, token) rows,
    * subtracted covered positions with a second exchange, and
    * re-assembled each document via `collect_list(struct(pos, token,
    * keep))` — a hash aggregate whose per-group state was every
    * document's full token-struct list. Under the session's raised
    * ObjectHashAggregate fallback threshold (sized for `graft_topk`'s
    * O(k) buffers) that held ~1e5 full documents per task at the 100x
    * rehearsal and exhausted the heap before sort-based fallback could
    * engage; the rewrite's aggregate state is bounded by the EXCISED
    * span count, the corpus token stream never shuffles, and two
    * exchanges disappear outright. */
  private def excise(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      redundant: DataFrame, // (__id, __p) gram starts to remove
      k: Int): DataFrame = {
    val starts = redundant
      .groupBy(col("__id"))
      .agg(collect_set(col("__p")).as("__st"))
      .withColumnRenamed("__id", "__jid")
    docs
      .select(col(idCol), split(col(textCol), " ").as("__tk"))
      .join(starts, col(idCol) === col("__jid"), "left")
      .withColumn("__kept", expr(
        s"""array_except(sequence(0, size(__tk) - 1),
           | flatten(transform(coalesce(__st, CAST(array() AS array<int>)),
           |   p -> sequence(p, p + ${k - 1}))))""".stripMargin))
      .select(col(idCol),
        size(col("__tk")).cast(LongType).as("n_tokens"),
        (size(col("__tk")) - size(col("__kept"))).cast(LongType).as("n_removed"),
        array_join(
          transform(col("__kept"), p => element_at(col("__tk"), p + 1)), " ")
          .as("dedup_text"))
  }

  /** Per-document span-dedup summary: (idCol, n_tokens, n_removed,
    * dedup_text). `dedup_text` is the space-joined surviving tokens
    * (empty string when every token sat inside a repeated span seen
    * earlier in the corpus). Documents shorter than `gramTokens` carry no
    * anchors and pass through untouched.
    *
    * Keep-first is computed as `min(struct(__id, __p))` per gram — an
    * aggregate, not a `row_number` window — because struct min under
    * Spark's lexicographic struct ordering IS the first occurrence in
    * (doc id, position) order, and an aggregate partial-combines map-side:
    * a boilerplate gram occurring 10^9 times across a crawl collapses to
    * one (gram, first) row per map task BEFORE the exchange, where the
    * window formulation would ship every occurrence to one reducer and
    * sort it there. The join back to per-occurrence rows builds on the
    * firsts side (one row per distinct gram — uniform by construction, so
    * the build never skews) and streams the occurrence side through a hash
    * probe, no sort; the `shuffle_hash` hint pins that physical shape.
    *
    * `maxGramDf` is the boilerplate gate, mirroring the shingle-join
    * family's `Queries.NgramMaxDf`: a gram whose corpus-wide occurrence
    * count exceeds the cap ("all rights reserved ...") is template
    * text, not a meaningful repeat, so ALL its occurrences — including the
    * first — are excised. The default (`Long.MaxValue`) keeps the gate a
    * no-op and the semantics exactly keep-first. */
  def dedupSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gramTokens: Int = 8,
      hashGrams: Boolean = false,
      maxGramDf: Long = Long.MaxValue): DataFrame = {
    require(gramTokens > 0, s"gramTokens must be positive, got $gramTokens")
    require(maxGramDf > 0, s"maxGramDf must be positive, got $maxGramDf")
    val gramKey = if (hashGrams) xxhash64(col("__gram")) else col("__gram")
    val grams = gramsOf(docs, idCol, textCol, gramTokens)
      .withColumn("__k", gramKey)
    // The keep-first aggregate must stay a HASH aggregate to partial-
    // combine map-side — min over a struct falls back to SortAggregate
    // (struct buffers aren't mutable), which re-sorts the full gram
    // stream twice. For integral doc ids the (id, pos) pair is instead
    // encoded into one exact decimal(38,0): id * 2^32 + pos is strictly
    // monotone in lexicographic (id, pos) because posexplode positions
    // satisfy 0 <= pos < 2^31, and a 64-bit id times 2^32 plus 2^31 is
    // < 1e29 — exact at 38 digits for EVERY long id. min(decimal) keeps
    // whole-stage codegen and the hot gram collapses before the
    // exchange. Non-integral ids take the generic struct-min path
    // (SortAggregate — still partial-combining, just sort-based).
    val encodable = docs.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    def firstKey: Column =
      if (encodable)
        col("__id").cast(DecimalType(38, 0)) * lit(4294967296L) + col("__p")
      else struct(col("__id"), col("__p"))
    // Only grams seen more than once can mark anything redundant (the
    // single occurrence of a unique gram IS its min, and maxGramDf >= 1
    // never excises it), so the join build side is pre-filtered to the
    // repeated grams — typically a small fraction of the distinct-gram
    // set. When that fraction fits the broadcast threshold AQE upgrades
    // the hinted shuffle-hash join to a broadcast join at runtime and the
    // probe side never shuffles at all; when it doesn't (heavy-repeat
    // crawl corpora) the shuffle-hash shape keeps the probe a streamed
    // O(1)-per-row lookup that AQE's skew-split can further divide —
    // never a sort, never a single pinned reducer.
    val firsts = grams
      .groupBy(col("__k"))
      .agg(min(firstKey).as("__first"), count(lit(1)).as("__occ"))
      .where(col("__occ") > lit(1L))
    val redundant = grams
      .join(firsts.hint("shuffle_hash"), Seq("__k"))
      .where(col("__occ") > maxGramDf || firstKey =!= col("__first"))
      .select(col("__id"), col("__p"))
    excise(docs, idCol, textCol, redundant, gramTokens)
  }

  /** The distinct k-gram set of a reference corpus — the persistable
    * state [[exciseAgainst]] needs. A production crawl-refresh computes
    * this ONCE from the curated corpus (saveGrams/loadGrams round-trips
    * it as parquet) and excises every new batch against it without ever
    * re-reading reference text — the span-level sibling of
    * [[graft.dedup.Incremental.Index]]. */
  def referenceGrams(
      ref: DataFrame,
      idCol: String,
      textCol: String,
      gramTokens: Int = 8): DataFrame = {
    require(gramTokens > 0, s"gramTokens must be positive, got $gramTokens")
    gramsOf(ref, idCol, textCol, gramTokens).select(col("__gram")).distinct()
  }

  def saveGrams(grams: DataFrame, path: String): Unit =
    grams.write.mode("overwrite").parquet(path)

  def loadGrams(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Cross-corpus span excision: remove from each batch document every
    * token position inside a k-gram the REFERENCE corpus contains —
    * "don't re-ingest passages the curated corpus already has", applied
    * at span granularity where [[graft.dedup.Incremental]] drops whole
    * near-duplicate documents. Within-batch repeats are untouched (run
    * [[dedupSpans]] for those); the reference side contributes only its
    * gram set, so refreshes never read reference text. Same output
    * schema and physical shape as [[dedupSpans]], with the keep-first
    * window replaced by one join against the (distinct, persistable,
    * often broadcast-able) reference gram set.
    *
    * `broadcastRef = true` pins the reference gram set as a broadcast
    * build side — right whenever the curated-reference gram set fits an
    * executor (eval suites, deny-lists, modest reference corpora). The
    * default keeps a shuffle-hash join (build = reference grams, probe =
    * the streamed batch grams, no sort on either side) for the
    * crawl-sized-reference case where shipping the gram set to every
    * executor would not fit; SpanDedupSpec pins both physical shapes. */
  def exciseAgainst(
      docs: DataFrame,
      refGrams: DataFrame,
      idCol: String,
      textCol: String,
      gramTokens: Int = 8,
      broadcastRef: Boolean = false): DataFrame = {
    require(gramTokens > 0, s"gramTokens must be positive, got $gramTokens")
    val ref = refGrams.select(col("__gram")).distinct()
    val build = if (broadcastRef) broadcast(ref) else ref.hint("shuffle_hash")
    val redundant = gramsOf(docs, idCol, textCol, gramTokens)
      .join(build, Seq("__gram"))
      .select(col("__id"), col("__p"))
    excise(docs, idCol, textCol, redundant, gramTokens)
  }

  /** Span-level contamination report against a benchmark set: for every
    * candidate training document, how many of its token positions sit
    * inside a k-gram that also occurs in `bench` — the span-granular
    * sibling of shingle-overlap decontamination (which flags whole
    * documents). A document with contaminated_tokens = 0 shares no
    * k-token span with the benchmark; a large value localizes HOW MUCH
    * of it is benchmark text, which doc-level Jaccard cannot see.
    *
    * Physical shape: grams on both sides, one exchange keyed by the gram
    * with the (tiny) benchmark side aggregated to distinct grams first —
    * at 100 TB this is a broadcast-able build side whenever the benchmark
    * is a real eval suite (MBs), so the probe stays a map-side join.
    * `broadcastBench = true` (the default) PINS that broadcast rather
    * than trusting size estimation over the distinct-aggregate, so the
    * 100 TB probe side never shuffles; pass false only for a
    * pathologically large benchmark set, which falls back to the same
    * sort-free shuffle-hash shape as [[exciseAgainst]]. */
  def contaminationSpans(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      gramTokens: Int = 8,
      broadcastBench: Boolean = true): DataFrame = {
    require(gramTokens > 0, s"gramTokens must be positive, got $gramTokens")
    val k = gramTokens
    val benchGrams = referenceGrams(bench, idCol, textCol, k)
    val build =
      if (broadcastBench) broadcast(benchGrams) else benchGrams.hint("shuffle_hash")
    val covered = gramsOf(docs, idCol, textCol, k)
      .join(build, Seq("__gram"))
      .select(col("__id"),
        explode(expr(s"sequence(__p, __p + ${k - 1})")).as("__cpos"))
      .distinct()
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("contaminated_tokens"))
    docs
      .select(col(idCol).as("__id"),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .join(covered, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_tokens"),
        coalesce(col("contaminated_tokens"), lit(0L)).as("contaminated_tokens"))
  }
}
