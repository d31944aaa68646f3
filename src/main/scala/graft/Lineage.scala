package graft

import org.apache.spark.sql.DataFrame

/** The one materialization seam for query-path intermediates that are
  * consumed by several downstream branches (guide §5: materialize an
  * intermediate to truncate a multiply-consumed plan). Every query-path
  * checkpoint goes through [[truncate]] (MaterializationSeamSpec pins
  * this); the iterative loops' per-round `localCheckpoint`s bound
  * lineage depth instead and stay in those loops.
  *
  * Mode is decided by the session, not the call site: when the
  * SparkContext has a checkpoint directory configured (cluster runs —
  * `sc.setCheckpointDir`, or `CorpusPipeline.Config.checkpointDir`), the
  * frame takes a RELIABLE checkpoint there, so losing an executor after
  * truncation cannot strand an unrecomputable lineage; otherwise (local
  * mode, single-JVM services) it takes the cheaper `localCheckpoint`,
  * whose executor-pinned, non-replicated blocks live in the same process
  * that would die anyway.
  *
  * EAGER deliberately (both branches): consumers of the truncated frame
  * run concurrently inside one downstream job, and a lazy checkpoint
  * would let each re-run the full upstream lineage once (+34% warm wall
  * on corpus_curate_best at sf0.1). The cost is that building the
  * caller's plan executes the upstream once — one job, which both
  * computes and stores the partitions — at DataFrame-construction time,
  * and the result is rooted at the checkpoint, so predicates applied to
  * it do not push below it.
  *
  * Truncation pays only when the consumers re-execute REAL compute below
  * their last shared exchange, which AQE's exchange reuse already
  * deduplicates (r19 A/B): the recall gates' shared exact baseline and
  * lsh_recall's bucketed pairs got SLOWER with it (the checkpoint just
  * added an eager job), while dsir_resample (histogram + admission join
  * both re-scoring the corpus, −0.24 s) and ppl_buckets (3 consumers
  * re-running the bigram pipeline, −0.27 s) got faster.
  *
  * `-Dgraft.truncate=off` is the one measurement escape hatch
  * (interleaved A/B of truncated vs raw plans inside one JVM) and turns
  * every call site into a pass-through; production default is ON.
  */
object Lineage {
  def truncate(df: DataFrame): DataFrame =
    if (sys.props.get("graft.truncate").contains("off")) df
    else if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
}
