package graft.dedup

import graft.SparkSpec
import graft.pipelines.CorpusPipeline

/** The size-dispatched exact pair search: the direct self-join and the
  * prefix-filtered PPJoin formulation must produce identical pairs (they
  * share one oracle in the catalog), `pairsAuto` must pick the direct
  * plan under the threshold and the PPJoin plan above it, and the
  * pipeline's `exactNearDup` knob must curate identically through either
  * selected plan. */
class AutoJoinSpec extends SparkSpec {
  import spark.implicits._

  private val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
    "eta", "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omi", "pi")

  /** 20 seeded random docs + 8 near-copies (one token appended) so the
    * fixture has genuine above-threshold pairs. */
  private lazy val docs = {
    val rnd = new scala.util.Random(7)
    val base = (0 until 20).map { i =>
      val n = 8 + rnd.nextInt(20)
      (i.toLong, Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" "))
    }
    val copies = base.take(8).map { case (id, text) => (100L + id, text + " tail") }
    (base ++ copies).toDF("doc_id", "text")
  }

  test("jaccard: direct, ppjoin, and auto produce identical pairs") {
    def key(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    val direct = key(Jaccard.pairsDirect(docs, "doc_id", "text", 6000L))
    val pp = key(Jaccard.pairs(docs, "doc_id", "text", 6000L))
    val auto = key(Jaccard.pairsAuto(docs, "doc_id", "text", 6000L))
    assert(direct.nonEmpty) // the planted near-copies must actually pair
    assert(direct == pp && direct == auto)
  }

  test("containment: direct, ppjoin, and auto produce identical pairs") {
    def key(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, Long)].collect().toSet
    val direct = key(Containment.pairsDirect(docs, "doc_id", "text", 8000L))
    val pp = key(Containment.pairs(docs, "doc_id", "text", 8000L))
    val auto = key(Containment.pairsAuto(docs, "doc_id", "text", 8000L))
    assert(direct.nonEmpty)
    assert(direct == pp && direct == auto)
  }

  test("auto selects the direct plan under the threshold and PPJoin above it") {
    // the PPJoin formulation's signature is its rarity-ranking window; the
    // direct self-join has no window at all (df cap inert here).
    // materialize = false keeps the lazy plan inspectable (the default
    // localCheckpoints the pairs, collapsing the plan to a LogicalRDD)
    val below = Jaccard.pairsAuto(docs, "doc_id", "text", 6000L, directMaxDocs = Long.MaxValue, materialize = false)
    assert(!below.queryExecution.optimizedPlan.toString.contains("row_number"))
    val above = Jaccard.pairsAuto(docs, "doc_id", "text", 6000L, directMaxDocs = 0L, materialize = false)
    assert(above.queryExecution.optimizedPlan.toString.contains("row_number"))
    val cBelow = Containment.pairsAuto(docs, "doc_id", "text", 8000L, directMaxDocs = Long.MaxValue, materialize = false)
    assert(!cBelow.queryExecution.optimizedPlan.toString.contains("row_number"))
    val cAbove = Containment.pairsAuto(docs, "doc_id", "text", 8000L, directMaxDocs = 0L, materialize = false)
    assert(cAbove.queryExecution.optimizedPlan.toString.contains("row_number"))
  }

  test("both modes key the dispatch on the non-empty-set count near the threshold") {
    // 28 real docs + 15 docs whose text is under 3 tokens (3-gram word
    // shingling yields an EMPTY set — they can pair with nothing).
    // directMaxDocs sits between the two measures: raw rows 43 > 30,
    // non-empty sets 28 <= 30. Both modes must pick the DIRECT plan —
    // before the unification, lean mode keyed on the raw count and went
    // to PPJoin here while materialize mode went direct.
    val padded = docs.unionAll(
      (0 until 15).map(i => (500L + i, "tiny doc")).toDF("doc_id", "text"))
    val lean = Jaccard.pairsAuto(padded, "doc_id", "text", 6000L, directMaxDocs = 30L, materialize = false)
    assert(!lean.queryExecution.optimizedPlan.toString.contains("row_number"),
      "lean mode must dispatch on non-empty sets, not raw rows")
    // materialize mode's plan collapses to a LogicalRDD, so its pick is
    // pinned by result identity against the lean direct plan instead
    def key(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    val mat = Jaccard.pairsAuto(padded, "doc_id", "text", 6000L, directMaxDocs = 30L)
    assert(key(mat) == key(lean) && key(lean).nonEmpty)
  }

  test("pairsAuto releases its input cache (no corpus-sized blocks accumulate)") {
    import org.apache.spark.storage.StorageLevel
    Jaccard.pairsAuto(docs, "doc_id", "text", 6000L).count()
    assert(docs.storageLevel == StorageLevel.NONE,
      "Jaccard.pairsAuto must unpersist its input before returning")
    Containment.pairsAuto(docs, "doc_id", "text", 8000L).count()
    assert(docs.storageLevel == StorageLevel.NONE,
      "Containment.pairsAuto must unpersist its input before returning")
  }

  test("the prefix branch's internal sets cache is released too") {
    // directMaxDocs = 0 forces the prefix branch, whose sibling probe
    // persists the capped sets frame internally — no NEW plain cache may
    // outlive the call (the input-cache assertion above cannot see this
    // one: it is not the caller's frame). The returned pair table's
    // localCheckpoint RDD legitimately remains — it IS the result's
    // storage, reclaimed by the ContextCleaner when the frame goes out
    // of scope — so only non-checkpoint survivors count as leaks.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Jaccard.pairsAuto(docs, "doc_id", "text", 6000L, directMaxDocs = 0L).count()
    Containment.pairsAuto(docs, "doc_id", "text", 8000L, directMaxDocs = 0L).count()
    val leaked = (spark.sparkContext.getPersistentRDDs -- before)
      .filterNot(_._2.isCheckpointed)
    assert(leaked.isEmpty,
      s"prefix-branch caches outlived pairsAuto: ${leaked.keySet}")
  }

  test("pairsAuto preserves a caller-managed cache (never unpersists it)") {
    import org.apache.spark.storage.StorageLevel
    val mine = docs.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val j = Jaccard.pairsAuto(mine, "doc_id", "text", 6000L)
      assert(j.count() > 0)
      assert(mine.storageLevel == StorageLevel.MEMORY_AND_DISK,
        "a caller-persisted input must keep its cache across Jaccard.pairsAuto")
      val c = Containment.pairsAuto(mine, "doc_id", "text", 8000L)
      assert(c.count() > 0)
      assert(mine.storageLevel == StorageLevel.MEMORY_AND_DISK,
        "a caller-persisted input must keep its cache across Containment.pairsAuto")
    } finally mine.unpersist(blocking = false)
  }

  test("materialize mode checkpoints reliably in a session with a checkpoint dir") {
    import org.apache.spark.CheckpointDirs.{checkpointFile, withTempDir}
    withTempDir(spark.sparkContext) {
      // Long.MaxValue forces the direct branch, 0 the prefix branch
      for (direct <- Seq(Long.MaxValue, 0L)) {
        val j = Jaccard.pairsAuto(docs, "doc_id", "text", 6000L, directMaxDocs = direct)
        assert(checkpointFile(j).isDefined, s"Jaccard.pairsAuto(directMaxDocs = $direct)")
        assert(j.count() > 0)
        val c = Containment.pairsAuto(docs, "doc_id", "text", 8000L, directMaxDocs = direct)
        assert(checkpointFile(c).isDefined, s"Containment.pairsAuto(directMaxDocs = $direct)")
      }
      assert(checkpointFile(Containment.subsetsAuto(docs, "doc_id", "text", 8000L)).isDefined,
        "Containment.subsetsAuto")
    }
  }

  test("the pipeline's exactNearDup knob curates identically through either plan") {
    val cfg = CorpusPipeline.Config(minTokens = 1L, maxTopTokenBp = 10000L,
      nearDupMinBp = 6000L, exactNearDup = true)
    def out(c: CorpusPipeline.Config) =
      CorpusPipeline.curate(docs, "doc_id", "text", c)
        .select("doc_id").as[Long].collect().toSet
    val viaDirect = out(cfg.copy(directJoinMaxDocs = Long.MaxValue))
    val viaPpjoin = out(cfg.copy(directJoinMaxDocs = 0L))
    assert(viaDirect == viaPpjoin)
    // the exact pair graph must actually have deduped the planted copies
    assert(viaDirect.size < 28)
  }
}
