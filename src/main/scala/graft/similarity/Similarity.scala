package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Two paths:
  *  - brute-force top-k: broadcast the (small) query set, score every
  *    corpus row against each query inside one codegen'd projection, then a
  *    per-query top-k window. Scales linearly in corpus size with zero
  *    shuffle of the corpus (only the k winners per query shuffle).
  *  - signed-random-projection LSH: deterministic ±1 hyperplanes bucket the
  *    corpus; candidates come from an equi-join on the bucket id, so the
  *    cross product never materializes. The scale path for pairwise
  *    near-duplicate detection.
  *
  * All scoring used by the DuckDB-checked queries is exact integer math on
  * quantized vectors (round(x*QuantScale) as long), computed by the
  * codegen'd graft_quantize/graft_qdot/graft_srp kernels, so the scoring
  * entry points need a session with [[graft.catalyst.GraftExtensions]]
  * (`graft.Sessions.build`); float cosine is also provided for library use.
  */
object Similarity {

  /** Float cosine similarity (library path; not oracle-checked because float
    * summation order is engine-specific). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0d), (acc, x) => acc + x)
    val na = sqrt(aggregate(a, lit(0d), (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType)))
    val nb = sqrt(aggregate(b, lit(0d), (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType)))
    dot / (na * nb)
  }

  /** Per-query top-k over a scored candidate frame (query_id,
    * neighbor_id, scoreCol), ranked by (score DESC, id ASC).
    *
    * Primary path — the `graft_topk` bounded aggregate
    * ([[graft.catalyst.TopKPairs]]): one hash aggregate per query whose
    * state is an O(k) heap, ranks via posexplode of the sorted result
    * array. Partial aggregation prunes every map task's candidates to
    * <= k per query BEFORE the exchange, so the shuffle carries k-entry
    * buffers instead of candidate rows and NOTHING ever sorts the
    * candidate stream. The predecessor — a sharded two-phase rank
    * window — bounded per-TASK sort state but still externally sorted
    * the whole candidate mass: at the 100x kNN-graph rehearsal
    * (2.5x10^8 candidates) that window spilled 17 GiB even under
    * perfect IVF sizing, where the aggregate holds queries x k structs
    * and spills nothing (BENCHSCALE.md round-12 sizing rehearsal).
    *
    * The aggregate path engages whenever score and id are LongType
    * (every catalog consumer: integer dots, Hamming negations, millis
    * scores). A bare (query, id, score) frame rides `graft_topk`; a
    * frame carrying EXTRA columns packs them into one struct and rides
    * `graft_topk_payload` ([[graft.catalyst.TopKPairsPayload]]) — the
    * payload sits inert beside its pair in the same O(k) heap, so
    * payload callers get the identical no-sort, map-side-pruned shape
    * instead of regressing to a corpus-mass sort. The sharded two-phase
    * rank window remains ONLY as an explicit opt-in (`forceWindow`,
    * for A/B rehearsals) or for non-Long score/id types, which no
    * public entry point produces.
    *
    * Null semantics, identical on ALL paths: a candidate row with a
    * null score or null id is not a ranked candidate and is dropped
    * before ranking (the aggregates skip such rows by contract — a
    * null PAYLOAD column does not drop the row; the window fallback
    * filters them so it cannot diverge — a bare desc window would
    * otherwise rank nulls LAST and let them fill out under-full
    * queries). */
  private[graft] def topKPerQuery(
      scored: DataFrame,
      scoreCol: String,
      k: Int,
      rankCol: String = "rank",
      shards: Int = 32,
      queryCol: String = "query_id",
      idCol: String = "neighbor_id",
      forceWindow: Boolean = false): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    // a pre-existing rank column would ride the aggregate path as a
    // payload extra and come back ALONGSIDE the appended rank (two
    // identically-named columns), while the window path's withColumn
    // would silently replace it — reject up front so both paths keep
    // the same output schema contract
    require(!scored.columns.contains(rankCol),
      s"input already has a '$rankCol' column; pass rankCol = a fresh name")
    val longKeyed =
      scored.schema(scoreCol).dataType == LongType &&
        scored.schema(idCol).dataType == LongType
    val extras = scored.columns.toSeq
      .filter(c => c != queryCol && c != idCol && c != scoreCol)
    if (longKeyed && !forceWindow) {
      val tk =
        if (extras.isEmpty)
          call_function("graft_topk", col(scoreCol), col(idCol), lit(k))
        else
          call_function("graft_topk_payload", col(scoreCol), col(idCol),
            struct(extras.map(col): _*), lit(k))
      val ranked = scored
        .groupBy(col(queryCol))
        .agg(tk.as("__tk"))
        .select(col(queryCol), posexplode(col("__tk")).as(Seq("__pos", "__e")))
      // original column order, rank appended — the window path's shape
      val outCols = scored.columns.toSeq.map {
        case c if c == idCol => col("__e").getField("id").as(idCol)
        case c if c == scoreCol => col("__e").getField("score").as(scoreCol)
        case c if c == queryCol => col(c)
        case c => col("__e").getField("payload").getField(c).as(c)
      } :+ (col("__pos") + 1).cast(LongType).as(rankCol)
      ranked.select(outCols: _*)
    } else {
      // match the aggregate path's null contract (see Scaladoc)
      val nonNull = scored
        .filter(col(scoreCol).isNotNull && col(idCol).isNotNull)
      val w2 = Window.partitionBy(col(queryCol))
        .orderBy(col(scoreCol).desc, col(idCol).asc)
      // shards = 1: the classic single window — cheaper on corpora small
      // enough that a whole candidate set sorts comfortably in one task
      val pruned =
        if (shards == 1) nonNull
        else {
          val w1 = Window
            .partitionBy(col(queryCol),
              pmod(xxhash64(col(idCol)), lit(shards)))
            .orderBy(col(scoreCol).desc, col(idCol).asc)
          nonNull
            .withColumn("__shard_rk", row_number().over(w1))
            .filter(col("__shard_rk") <= k)
            .drop("__shard_rk")
        }
      pruned
        .withColumn(rankCol, row_number().over(w2).cast(LongType))
        .filter(col(rankCol) <= k)
    }
  }

  /** Query-count threshold above which the exact-rerank joins stop
    * BROADCASTING the shortlist sliver and the query-vector table and
    * degrade to shuffle_hash joins on their keys. The sliver is
    * |Q| x shortlist 16-byte id pairs and the vector table |Q| x dim
    * longs — at the default (100k queries, shortlist <= 100, dim <= 64)
    * that is <= ~160 MiB + ~64 MiB, comfortably broadcastable; a
    * production batch of millions of queries would exceed executor
    * broadcast budgets (and eventually Spark's 8 GiB hard cap), where
    * shuffling the corpus side by neighbor_id/query_id is the correct
    * shape anyway (the corpus-side join input dwarfs the exchange of
    * the sliver itself).
    *
    * Deciding costs a job: every BQ/PQ/IVFPQ search that takes a
    * `maxBroadcastQueries` in (0, Long.MaxValue) runs ONE eager
    * `queries.count()` at plan-construction time, so the query lineage
    * executes once for the decision and again in the real plan — cache
    * (or localCheckpoint) an expensive or NONDETERMINISTIC queries frame
    * before calling, both to avoid the double traversal and so the
    * decision is made over the same rows the plan executes (divergence is
    * plan-choice only — results are identical either way). Pass 0 (never
    * broadcast) or Long.MaxValue (always) to skip the count entirely. */
  val RerankBroadcastMaxQueries: Long = 100000L

  /** One decision per search call: is the query batch small enough for
    * its |Q|-proportional tables (LUTs/codes in the shortlist stage, the
    * shortlist sliver and query vectors in the rerank tail) to
    * broadcast? Counts the query table ONCE unless the bound makes the
    * answer free: 0 = never broadcast (no count — the forced-fallback
    * path), Long.MaxValue = always (no count — callers that know their
    * batch fits and want zero extra jobs). */
  private[similarity] def broadcastableQueries(queries: DataFrame, bound: Long): Boolean =
    bound == Long.MaxValue || (bound > 0L && queries.count() <= bound)

  /** The auto salt derive rule shared by IVF and IVFPQ (`saltBuckets = 0`):
    * 1 — leave the plan untouched — when the probed exchange is not
    * genuinely capped, i.e. the query batch broadcasts (no exchange at
    * all) or nlist already covers `par` cores; else split into
    * `ceil(4 * par / nlist)` (list, salt) buckets — ~4 buckets per core,
    * the measured knee of the round-17 salt curve (BENCHSCALE r17:
    * nlist 8 / 32 cores, salt 4/8/16/32/64 read 8.0/6.0/5.4/6.3/7.3 s).
    * Kept PURE so AutoSaltPropertySpec can pin it over random
    * (par, nlist, broadcastable) triples; `broadcastable` is by-name and
    * evaluated ONLY when nlist < par, so IVF's caller skips its
    * `queries.count()` probe whenever the core count already decides. */
  private[graft] def autoSaltBuckets(par: Int, nlist: Int, broadcastable: => Boolean): Int =
    if (nlist >= par || broadcastable) 1
    else ((4L * par + nlist - 1) / nlist).toInt

  /** The shared exact-rerank tail of BQ/PQ/IVFPQ `searchRerank`: attach
    * full (quantized) vectors to the |Q| x shortlist id sliver, score
    * the exact integer dot, keep top-k. `cv` = (neighbor_id, __cv) over
    * the corpus, `short` = (query_id, neighbor_id), `qv` = (query_id,
    * __qv). Two SEPARATE small-side joins so the |Q| x shortlist x dim
    * product never materializes driver-side; `broadcastSmall` (the
    * caller's ONE [[broadcastableQueries]] decision, shared with its
    * shortlist stage) picks broadcast vs shuffle_hash for both. */
  private[similarity] def rerankExact(
      cv: DataFrame,
      short: DataFrame,
      qv: DataFrame,
      k: Int,
      shards: Int,
      broadcastSmall: Boolean): DataFrame = {
    val joined =
      if (broadcastSmall)
        cv.join(broadcast(short), "neighbor_id").join(broadcast(qv), "query_id")
      else
        cv.join(short.hint("shuffle_hash"), "neighbor_id")
          .join(qv.hint("shuffle_hash"), "query_id")
    val rer = joined.select(col("query_id"), col("neighbor_id"),
      call_function("graft_qdot", col("__qv"), col("__cv")).as("dot"))
    topKPerQuery(rer, "dot", k, shards = shards)
  }

  /** Per-group bottom-k IDS under (hashCol ASC, idCol ASC): one
    * `graft_topk` bounded aggregate on the NEGATED hash — bottom-k is
    * top-k of -h, and every caller's hash lives in [0, 2^31) (HLL.mix /
    * the mod-P stratum hashes), so the negation is exact. Output:
    * groupCols + idCol, the groups x k winner sliver consumers flag or
    * join rows back against. This helper carries the negation-exactness
    * and tie-break proof ONCE for the deterministic-sampling family
    * (quota_split, SampleQuantiles.bottomK); kmv_bottomk inlines the
    * same idiom because it also reads the KMV threshold h_k off the
    * aggregate's result array. */
  private[graft] def bottomKIds(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      hashCol: String,
      k: Int): DataFrame = {
    val gc = groupCols.map(col)
    df.groupBy(gc: _*)
      .agg(call_function("graft_topk", -col(hashCol), col(idCol), lit(k))
        .as("__tk"))
      .select(gc :+ explode(col("__tk").getField("id")).as(idCol): _*)
  }

  /** Brute-force top-k neighbors for each row of `queries` against `corpus`.
    * Output: (query_id, neighbor_id, dot, rank). The query side is
    * broadcast; ranking ties break on neighbor id for determinism; the
    * ranking itself is [[topKPerQuery]]'s bounded `graft_topk` aggregate,
    * so the scored corpus is never sorted — each map task prunes to k
    * per query before the exchange. Scoring is the codegen'd
    * graft_quantize/graft_qdot kernels. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      shards: Int = 32): DataFrame = {
    def quant(c: Column): Column = call_function("graft_quantize", c)
    val q = queries.select(col(idCol).as("query_id"), quant(col(vecCol)).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), quant(col(vecCol)).as("__cv"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        call_function("graft_qdot", col("__qv"), col("__cv")).as("dot"))
    topKPerQuery(scored, "dot", k, shards = shards)
  }

  /** LSH near-duplicate pairs: same signed-random-projection bucket
    * (graft_srp: bit p set iff dot(vec, hyperplane_p) > 0 over the
    * deterministic Hashing.SrpMatrix) AND integer dot product above
    * `minDot` (for unit vectors, cosine ~= dot / QuantScale^2). */
  def lshNearDuplicates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minDot: Long): DataFrame = {
    val b = df
      .select(col(idCol).as("__id"), call_function("graft_quantize", col(vecCol)).as("__v"))
      .select(col("__id"), col("__v"), call_function("graft_srp", col("__v")).as("__bucket"))
    val l = b.as("l")
    val r = b.as("r")
    l.join(r, col("l.__bucket") === col("r.__bucket") && col("l.__id") < col("r.__id"))
      .select(
        col("l.__id").as("id_1"),
        col("r.__id").as("id_2"),
        call_function("graft_qdot", col("l.__v"), col("r.__v")).as("dot"))
      .filter(col("dot") >= minDot)
  }
}
