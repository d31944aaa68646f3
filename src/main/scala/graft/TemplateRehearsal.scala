package graft

import org.apache.spark.sql.functions._

import graft.restructure.Timers

/** Scale rehearsal for the set-identity collapse ([[graft.dedup.Jaccard
  * .collapse]]): plant TEMPLATE FAMILIES — m byte-identical copies of
  * every document, the shape template pages / boilerplate docs /
  * mirrored dumps produce in real crawls — and run exact prefix-filtered
  * Jaccard with the collapse ON vs OFF, each leg under its own
  * [[graft.restructure.Timers]] label so its task metrics are its own.
  *
  * Without the collapse, every m-family turns into C(m,2) candidate
  * pairs whose verification joins carry two full shingle arrays each
  * (the round-12 salt-collision pathology, now planted deliberately);
  * with it, candidate generation and verification see ONE rep per
  * family and the sibling pairs are emitted by membership expansion
  * without touching a set. Both plans must return the same pair count —
  * the equality is asserted, not assumed.
  *
  * Usage: runMain graft.TemplateRehearsal [srcSfDir] [copies] [minBp]
  * [family] (defaults /root/testdata/sf0.1, 20 copies, 8000 bp,
  * family = jaccard; family = subsets runs [[graft.dedup.Containment
  * .subsetsAuto]] against both fixed-knob plans instead — proving the
  * distinct-set probe picks the collapsed plan under the template
  * hazard and that its probe cost is linear noise at this scale).
  */
object TemplateRehearsal {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = if (args.length > 1) args(1).toInt else 20
    val minBp = if (args.length > 2) args(2).toLong else 8000L
    val family = if (args.length > 3) args(3) else "jaccard"
    require(family == "jaccard" || family == "subsets",
      s"family must be jaccard or subsets, got '$family'")
    require(copies >= 2, "copies must be >= 2")
    val spark = Sessions.build("graft-template-rehearsal")
    Timers.enabled = true

    val idStride = 1000000L
    val docs = spark.read.parquet(s"$src/documents.parquet")
      .select(col("doc_id"), col("text"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    require(maxId < idStride, s"doc_id $maxId >= stride $idStride")
    val corpus = (0 until copies)
      .map(k => docs.withColumn("doc_id", col("doc_id") + lit(k * idStride)))
      .reduce(_ unionByName _)
    val dir = java.nio.file.Files.createTempDirectory("graft-template").toString
    try {
      corpus.repartition(32).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val planted = spark.read.parquet(s"$dir/documents.parquet")
      val nDocs = planted.count()
      println(s"[template] corpus: $nDocs docs ($copies identical copies each)")

      // (row count, order-independent xor of whole-row hashes) in ONE
      // job — the checksum makes the cross-plan equality gate bind on
      // row CONTENT, not just cardinality (for the per-doc best-container
      // output a count alone cannot see a wrong-container divergence)
      def run(label: String)(query: => org.apache.spark.sql.DataFrame): (Long, Long) = {
        val t0 = System.nanoTime()
        val row = Timers.time(spark, s"template.$label") {
          val q = query
          q.select(xxhash64(struct(q.columns.map(col): _*)).as("__h"))
            .agg(count(lit(1)), expr("bit_xor(__h)")).head()
        }
        val n = row.getLong(0)
        val chk = if (row.isNullAt(1)) 0L else row.getLong(1)
        val wall = (System.nanoTime() - t0) / 1e9
        Timers.settle()
        val e = Timers.timings(s"template.$label")
        e.spillStages.foreach(s => println(s"[spill-stage] $label $s"))
        println(f"[template] $label%-14s rows=$n%d wall=$wall%.1fs " +
          f"memSpill=${e.memSpilledBytes / 1048576}%d MiB " +
          f"diskSpill=${e.diskSpilledBytes / 1048576}%d MiB " +
          f"peakTask=${e.peakTaskMemBytes / 1048576}%d MiB")
        (n, chk)
      }

      if (family == "subsets") {
        // auto first (the production entry — its probe must pick the
        // collapsed plan here), then the fixed knobs; the knob-off leg is
        // the documented blowup and runs last
        val auto = run("auto")(graft.dedup.Containment.subsetsAuto(
          planted, "doc_id", "text", minBp))
        val on = run("collapse=on")(graft.dedup.Containment.subsets(
          planted, "doc_id", "text", minBp))
        val off = run("collapse=off")(graft.dedup.Containment.subsets(
          planted, "doc_id", "text", minBp, maxDf = Long.MaxValue, collapseSiblings = false))
        require(auto == on && on == off,
          s"flag sets diverge (rows, checksum): auto=$auto on=$on off=$off")
        println(s"[template] identical flag sets: ${auto._1} flags all three ways")
      } else {
        // auto first (its sibling probe must pick the collapsed plan
        // under the planted hazard — directMaxDocs=0 forces the prefix
        // branch so the probe actually runs at every corpus size), then
        // the fixed knobs; the knob-off leg is the documented blowup
        val auto = run("auto")(graft.dedup.Jaccard.pairsAuto(
          planted, "doc_id", "text", minBp,
          maxDf = Long.MaxValue, directMaxDocs = 0L))
        val withCollapse = run("collapse=on")(graft.dedup.Jaccard.pairs(
          planted, "doc_id", "text", minBp,
          maxDf = Long.MaxValue, collapseSiblings = true))
        val without = run("collapse=off")(graft.dedup.Jaccard.pairs(
          planted, "doc_id", "text", minBp,
          maxDf = Long.MaxValue, collapseSiblings = false))
        require(auto == withCollapse && withCollapse == without,
          s"pair sets diverge (rows, checksum): auto=$auto " +
            s"collapse=$withCollapse direct=$without")
        println(s"[template] identical pair sets: ${auto._1} pairs all three ways")
      }
    } finally {
      // cleanup + session stop even when a run throws or the count
      // equality require fails — the planted corpus is multiple GB and
      // repeated failed rehearsals must not fill the shared bench box
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      spark.stop()
    }
  }
}
