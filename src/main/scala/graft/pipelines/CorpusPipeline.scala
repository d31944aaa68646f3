package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.{MinHash, SimHash}
import graft.operators.ConnectedComponents
import graft.text.{Hashing, Text}

/** The composed training-data curation pipeline: the individual operators
  * (cleanup scalars, quality signals, exact and near dedup, deterministic
  * splitting) chained the way a real corpus build runs them. Scalar
  * stages fuse into whole-stage codegen; the shuffles are the two dedups'
  * (hash-group and LSH band join); lineage is truncated ONCE, at the
  * exact-dedup survivors, because everything below that seam consumes the
  * chain more than once (see the note in [[curate]]).
  *
  * Stage order matters and is the standard one: cheap row-local filters
  * first (they shrink everything downstream), exact dedup before near-dup
  * (hash-group is cheaper than LSH and removes the worst mass), near-dup
  * last over the survivors.
  */
object CorpusPipeline {

  final case class Config(
      minTokens: Long = 5L,
      maxTopTokenBp: Long = 5000L, // drop docs whose top token is > 50%
      keepLangs: Set[String] = Set.empty, // empty = keep all
      blockTerms: Set[String] = Set.empty, // drop docs containing any (token match)
      blockPhrases: Set[String] = Set.empty, // drop docs containing any (substring match)
      nearDupMinBp: Long = 9000L, // near-dup Jaccard threshold
      exactNearDup: Boolean = false, // exact Jaccard pair graph instead of MinHash LSH
      directJoinMaxDocs: Long = graft.dedup.Jaccard.DirectMaxDocs, // exact path: direct self-join up to here, PPJoin above
      keepBestInCluster: Boolean = false, // near-dup keeps max-quality, not min-id
      spanDedupGrams: Option[Int] = None, // position-level span dedup anchor width
      urlCol: Option[String] = None, // canonical-URL keep-min pre-dedup column
      checkpointDir: Option[String] = None, // reliable-checkpoint dir for cluster runs (None = the session's)
      trainPct: Int = 80,
      valPct: Int = 10)

  /** Points the session at `cfg.checkpointDir`, so the pipeline's
    * [[graft.Lineage.truncate]] seams (the cluster membership sliver and
    * the exact-dedup survivors) take RELIABLE checkpoints there. With
    * `None` the session decides, as at every other seam.
    *
    * Reliable-mode operational notes: (1) Spark deletes non-streaming
    * checkpoint data on context cleanup ONLY when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (off by
    * default, must be set at session build) — a long-lived service that
    * curates batch after batch without it should periodically clean
    * `cfg.checkpointDir` itself or the rdd-N directories accumulate.
    * (2) `setCheckpointDir` creates a fresh UUID subdirectory per call
    * and mutates SparkContext-global state, so it is invoked only when
    * no checkpoint dir is set yet; an operator who already configured
    * one keeps theirs — loudly (warning log), because checkpoint data
    * then lands somewhere other than `cfg.checkpointDir` and a janitor
    * watching the configured dir would never see it. */
  private def useCheckpointDir(
      spark: org.apache.spark.sql.SparkSession,
      cfg: Config): Unit =
    cfg.checkpointDir.foreach { dir =>
      val sc = spark.sparkContext
      sc.getCheckpointDir match {
        case None => sc.setCheckpointDir(dir)
        case Some(existing) =>
          // the effective dir is setCheckpointDir's UUID subdirectory:
          // ours iff its PARENT's path equals cfg.checkpointDir. Both
          // sides are FS-qualified before comparing — sc stores a
          // fully-qualified URI, so a relative (or scheme-less)
          // cfg.checkpointDir spelling must not fake a divergence,
          // and substrings must not hide one
          val hconf = sc.hadoopConfiguration
          val parent = new org.apache.hadoop.fs.Path(existing).getParent
          def qualified(p: org.apache.hadoop.fs.Path) =
            p.getFileSystem(hconf).makeQualified(p)
          if (parent == null ||
              qualified(parent) != qualified(new org.apache.hadoop.fs.Path(dir)))
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"checkpointDir already set to $existing; " +
                s"ignoring cfg.checkpointDir=$dir — checkpoint data lands " +
                "in the existing location")
      }
    }

  /** Deterministic reliable-checkpoint janitor for service loops: deletes
    * everything under the session's current checkpoint location (the UUID
    * subdirectory `setCheckpointDir` created). A long-lived service that
    * calls [[curate]] batch after batch in `cfg.checkpointDir` mode
    * accumulates one rdd-N directory per batch; the GC-driven cleanup
    * (`spark.cleaner.referenceTracking.cleanCheckpoints=true`, set by
    * graft's `Sessions.build`) removes them only when the JVM happens to
    * collect the RDD, so an operator with a known batch boundary calls
    * this instead.
    *
    * The checkpoint location is SPARKCONTEXT-GLOBAL, so the blast radius
    * is every reliably-checkpointed frame in the session, not just
    * curate's: ONLY safe once every such DataFrame since the last purge —
    * curate outputs AND anything another component checkpointed into the
    * shared location — is fully materialized (written out / collected)
    * or abandoned. The checkpoint files ARE those frames' truncated
    * lineage; a later action on a live frame would fail to find them.
    * Subsequent checkpoints recreate the directory (the checkpoint
    * writer mkdirs its rdd-N path). */
  def purgeCheckpoints(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.getCheckpointDir.foreach { dir =>
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) fs.delete(path, true)
    }

  /** Optional stage 0 — URL-level dedup BEFORE any content work (the
    * order a crawl pipeline runs: the same page fetched under different
    * raw spellings never reaches cleanup, quality, or content dedup).
    * Keep-min doc per [[graft.functions.Urls.dedupKey]]; one map-side-
    * combined group-by whose build side is id-only. Docs whose URL fails
    * to parse (null key) all SURVIVE — no URL evidence is not duplicate
    * evidence; content dedup downstream still catches them. */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    // ONE canonicalization pass: a null key (un-parseable URL) falls back
    // to the shared per-doc sentinel group (Urls.fallbackKey — same
    // definition as the streaming twin), so those docs survive as
    // singletons out of the same aggregation instead of a second filter
    // branch re-running the parse chain over the corpus
    val key = coalesce(
      graft.functions.Urls.dedupKey(col(urlCol)),
      graft.functions.Urls.fallbackKey(col(idCol)))
    val keep = df.select(col(idCol), key.as("__uk"))
      .groupBy(col("__uk")).agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(keep, Seq(idCol))
  }

  /** Clean + annotate: cleaned text, token count, language guess, quality
    * signals — one codegen'd projection, no shuffle. */
  def annotate(df: DataFrame, textCol: String): DataFrame = {
    val clean = Text.normalizeWs(Text.stripUrls(Text.stripHtml(col(textCol))))
    df.withColumn("clean_text", clean)
      .withColumn("n_tokens", Text.tokenCount(col("clean_text")).cast(LongType))
      .withColumn("pred_lang", Text.langIdHeuristic(col("clean_text")))
  }

  /** The stateless (row-local) portion of the quality gate: token-count
    * minimum + language keep-list + blocklist (the C4-style banned-content
    * gate of the blocklist_filter catalog entry, matched against the
    * CLEANED text since that is what survives curation). Factored out so
    * the streaming intake ([[graft.streaming.Streaming.curateStream]])
    * applies EXACTLY the same gates as the batch pipeline — any Config
    * must filter identically in both. All three gates are codegen'd
    * row-local predicates: they fuse into the annotate projection. */
  def rowLocalGate(df: DataFrame, cfg: Config): DataFrame = {
    val base = df.filter(col("n_tokens") >= cfg.minTokens)
    val lang =
      if (cfg.keepLangs.isEmpty) base
      else base.filter(col("pred_lang").isin(cfg.keepLangs.toSeq: _*))
    if (cfg.blockTerms.isEmpty && cfg.blockPhrases.isEmpty) lang
    else {
      val termHit =
        if (cfg.blockTerms.isEmpty) lit(false)
        else arrays_overlap(Text.tokens(col("clean_text")),
          array(cfg.blockTerms.toSeq.sorted.map(lit): _*))
      val phraseHit = cfg.blockPhrases.toSeq.sorted
        .foldLeft(lit(false))((acc, p) => acc || col("clean_text").contains(p))
      lang.filter(!termHit && !phraseHit)
    }
  }

  /** Basis-point share of a document's most frequent token — the single
    * owner of the formula [[qualityFilter]] gates on and [[ensembleScore]]
    * scores with (two drifting copies of the same floor arithmetic is how
    * an engine and its oracle part ways). Returns (idCol, __top_bp). */
  private[graft] def topTokenShareBp(
      df: DataFrame, idCol: String, textCol: String): DataFrame = df
    .select(col(idCol), explode(Text.tokens(col(textCol))).as("__w"))
    .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__c"))
    .groupBy(col(idCol))
    .agg(floor(max(col("__c")).cast(DoubleType) * 10000d /
      sum(col("__c")).cast(DoubleType)).cast(LongType).as("__top_bp"))

  /** Row-local quality gate (fuses with annotate). The repetition signal
    * needs a per-doc aggregation, so it joins back only when enabled. */
  def qualityFilter(df: DataFrame, idCol: String, cfg: Config): DataFrame = {
    val langGated = rowLocalGate(df, cfg)
    if (cfg.maxTopTokenBp >= 10000L) langGated
    else {
      val rep = topTokenShareBp(langGated, idCol, "clean_text")
        .filter(col("__top_bp") <= cfg.maxTopTokenBp)
        .select(col(idCol))
      langGated.join(rep, idCol) // semi-join shape; rep is id-only
    }
  }

  /** Exact dedup: keep the smallest id per identical cleaned text. */
  def exactDedup(df: DataFrame, idCol: String): DataFrame = {
    val keep = df.groupBy(col("clean_text").as("__t"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(keep, idCol)
  }

  /** The near-duplicate pair graph the dedup stages cluster over. Default
    * backend: MinHash LSH with exact verification (sub-quadratic candidate
    * generation; the standard choice at corpus scale). `cfg.exactNearDup`
    * swaps in the EXACT Jaccard pair search — no LSH false negatives —
    * which itself auto-selects the direct self-join under
    * `cfg.directJoinMaxDocs` input documents and the prefix-filtered
    * PPJoin above it (both pass identical oracles; the dispatch trades
    * PPJoin's fixed cost against the direct join's hot-shingle quadratic
    * term — see [[graft.dedup.Jaccard.pairsAuto]]). */
  private def nearPairs(df: DataFrame, idCol: String, textCol: String, cfg: Config): DataFrame =
    if (cfg.exactNearDup)
      // materialize = true: this df is the pipeline's cleaned/gated
      // frame — an expensive lineage the probe and the chosen plan must
      // compute once, not once per traversal (the discipline pairsAuto's
      // materialize mode exists for; the cache is released before the
      // call returns)
      graft.dedup.Jaccard.pairsAuto(df, idCol, textCol, cfg.nearDupMinBp,
          maxDf = graft.Queries.NgramMaxDf,
          directMaxDocs = cfg.directJoinMaxDocs, materialize = true)
        .select(col("id_1"), col("id_2"))
    else
      MinHash.nearDuplicates(df, idCol, textCol, cfg.nearDupMinBp)
        .select(col("id_1"), col("id_2"))

  /** Near dedup with exact clustering: near-dup pairs become an edge
    * list, a connected-components pass collapses transitive chains (a~b~c
    * keeps only min(a,b,c) even when a and c never matched directly), and
    * every non-canonical member is dropped. The per-pair shortcut (drop
    * id_2 of each pair) under-merges exactly when a component's second-
    * smallest id appears only on the left of its pairs. */
  def nearDedup(df: DataFrame, idCol: String, textCol: String, cfg: Config): DataFrame = {
    val pairs = nearPairs(df, idCol, textCol, cfg)
    val drop = ConnectedComponents.run(pairs, "id_1", "id_2")
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    // shuffle-hash, never sort-merge: the probe side carries full document
    // text (sorting it is corpus-scale spill), the build side is bounded
    // by the duplicate-cluster membership; AQE upgrades to broadcast when
    // the membership is small enough
    df.join(drop.hint("shuffle_hash"), Seq(idCol), "left_anti")
  }

  /** The quality-ensemble score (same formula as the `quality_ensemble`
    * catalog entry, over an arbitrary text column): capped token mass plus
    * three 1000-point gates on stopword ratio, top-token share, and mean
    * token length. Returns (idCol, __score). */
  private[graft] def ensembleScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val rep = topTokenShareBp(df, idCol, textCol)
    df.select(col(idCol),
        Text.tokenCount(col(textCol)).cast(LongType).as("__nt"),
        Text.stopRatioBp(col(textCol), graft.Queries.Stopwords).as("__sr"),
        Text.meanTokenLenBp(col(textCol)).as("__ml"))
      // shuffle-hash like every other curate join: both sides are the
      // bounded member sliver, and SMJ would sort each for no benefit
      .join(rep.hint("shuffle_hash"), Seq(idCol))
      .select(col(idCol),
        (least(col("__nt"), lit(100L)) * 10
          + when(col("__sr").between(100, 4000), 1000L).otherwise(0L)
          + when(col("__top_bp") < 2000, 1000L).otherwise(0L)
          + when(col("__ml").between(30000, 120000), 1000L).otherwise(0L))
          .as("__score"))
  }

  /** Near dedup keeping the HIGHEST-QUALITY member of each duplicate
    * cluster instead of the smallest id — the cluster_best finisher wired
    * into the pipeline. Same pair graph and transitive closure as
    * [[nearDedup]]; only cluster members are scored (the score join and
    * rank window run on the pair-graph slice, not the corpus), docs in no
    * near-pair survive untouched. Ties break to the smaller id, so the
    * output stays deterministic on any partitioning. */
  def nearDedupBest(df: DataFrame, idCol: String, textCol: String, cfg: Config): DataFrame = {
    val pairs = nearPairs(df, idCol, textCol, cfg)
    val comp = ConnectedComponents.run(pairs, "id_1", "id_2")
      .select(col("node").as(idCol), col("component"))
    // members is the bounded cluster-mass sliver, but its LINEAGE is the
    // whole upstream pipeline (corpus scan + cleanup + quality gates) and
    // it is consumed twice (the scalar-gate leg and ensembleScore's
    // token-explode rep leg) on top of the final anti-join's own corpus
    // pass — without truncation the corpus chain executes 3-4x
    // CONCURRENTLY in one stage, and the squeezed execution-memory shares
    // turned into 2.1 GiB of aggregate spill at the 100x rehearsal.
    // truncating lineage (a KB-MB sliver) runs the chain once for both
    // member consumers; text-carrying joins stay sort-free shuffle-hash
    // probes (AQE upgrades to broadcast when sizes allow). The session
    // picks local vs reliable checkpoint (see useCheckpointDir).
    val members = graft.Lineage.truncate(
      df.join(comp.hint("shuffle_hash"), Seq(idCol))
        .select(col(idCol), col("component"), col(textCol)))
    val scored = members
      .join(ensembleScore(members, idCol, textCol).hint("shuffle_hash"), Seq(idCol))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("__score").desc, col(idCol).asc)
    val drop = scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") =!= 1)
      .select(col(idCol))
    df.join(drop.hint("shuffle_hash"), Seq(idCol), "left_anti")
  }

  /** Deterministic split column from the shared integer hash. Integral ids
    * only, REQUIRED loudly: a string id would make `id % P` null and send
    * every document to 'test' (empty train set, no error), and a negative
    * id's negative bucket would send everything to 'train' — pmod keeps
    * the negative domain correct, the require keeps the unsupported one
    * from failing silently. Non-negative ids (the testdata and every
    * oracle) bucket exactly as before. */
  def withSplit(df: DataFrame, idCol: String, cfg: Config): DataFrame = {
    require(df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }, s"withSplit needs an integral id column, got ${df.schema(idCol).dataType}")
    val bucket = pmod(col(idCol) % Hashing.P * Hashing.TokenHashA % Hashing.P, lit(100))
    df.withColumn("split",
      when(bucket < cfg.trainPct, "train")
        .when(bucket < cfg.trainPct + cfg.valPct, "val")
        .otherwise("test"))
  }

  /** The full pipeline. Output: idCol, clean_text, n_tokens, pred_lang,
    * split — the curated corpus a tokenizer run would consume. */
  def curate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      cfg: Config = Config()): DataFrame = {
    useCheckpointDir(df.sparkSession, cfg)
    val urlGated = cfg.urlCol match {
      case Some(u) => urlDedup(df, idCol, u)
      case None => df
    }
    // explicit exchange after annotate: the repetition gate and the main
    // chain both consume it, and identical child plans share one shuffle
    // stage — the cleanup regexes and language scores run ONCE instead of
    // once per branch (same exchange-reuse trick as the ngram query)
    val annotated = annotate(urlGated, textCol).repartition(col(idCol))
    val filtered = qualityFilter(annotated, idCol, cfg)
    // Truncate lineage at the exact-dedup survivors (r19): every consumer
    // below this seam re-executes the whole cleanup+gate+dedup chain
    // otherwise — the near-dup pair graph is materialized EAGERLY (the
    // components gate collects it), and the final anti-join plus the span
    // stage each traverse the chain again, so one curate run pays the
    // upstream 2-3x. Truncating once costs one write of the survivor
    // corpus and makes every re-read a checkpoint scan: measured warm
    // mins on the catalog entries 2.50->1.32 s (corpus_curate),
    // 2.90->1.85 s (corpus_curate_best), 2.36->2.04 s (corpus_curate_span)
    // at sf0.1, identical outputs. At cluster scale the same trade holds
    // harder — the chain is 2 joins + a full-text group-by per pass — and
    // cfg.checkpointDir swaps in the reliable checkpoint exactly as for
    // the member sliver (see useCheckpointDir's fault-tolerance notes).
    val exact = graft.Lineage.truncate(exactDedup(filtered, idCol))
    // Jaccard is capped at 10000bp, so a threshold above it disables
    // doc-level near-dedup; skip the whole LSH pipeline rather than
    // building signatures and bands whose pairs all fail verification
    // (the span-stage "trim, don't drop" recipe runs this way)
    val near =
      if (cfg.nearDupMinBp > 10000L) exact
      else if (cfg.keepBestInCluster) nearDedupBest(exact, idCol, "clean_text", cfg)
      else nearDedup(exact, idCol, "clean_text", cfg)
    // optional position-level span dedup (the ExactSubstr pass) over the
    // doc-dedup survivors: repeated spans >= k tokens keep one corpus-wide
    // occurrence, documents are re-assembled, n_tokens becomes the KEPT
    // count, and the minTokens gate re-applies (a doc emptied by span
    // removal must not survive on its pre-dedup token count)
    val span = cfg.spanDedupGrams match {
      case Some(k) =>
        val sd = graft.text.SpanDedup.dedupSpans(near, idCol, "clean_text", k)
          .select(col(idCol), col("dedup_text"),
            (col("n_tokens") - col("n_removed")).as("__kept"))
        near.drop("clean_text", "n_tokens")
          .join(sd, Seq(idCol))
          .withColumnRenamed("dedup_text", "clean_text")
          .withColumnRenamed("__kept", "n_tokens")
          .filter(col("n_tokens") >= cfg.minTokens)
      case None => near
    }
    withSplit(span, idCol, cfg)
      .select(col(idCol), col("clean_text"), col("n_tokens"), col("pred_lang"), col("split"))
  }
}
