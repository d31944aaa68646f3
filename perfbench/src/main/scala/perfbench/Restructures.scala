package perfbench

import graft.avro.AvroSource
import graft.operators.Intervals
import graft.restructure.{Cleaner, DedupConfig, Restructure, RestructureConfig}
import graft.state.{OffsetRangeSet, TopicPartition}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** The three restructure workloads. Each measured operation calls the
  * program's own entry point (`Restructure.run`, `Cleaner.run`). Traced
  * runs alternate that with a replica built from the same public calls,
  * one span per call, and add phase rows that isolate single layers. */
object Pass {

  /** Production defaults apart from keep-last dedup, which deployments
    * turn on per topic. */
  def config(root: Path): RestructureConfig = RestructureConfig(
    inputDir = root.resolve("in").toString,
    outputDir = root.resolve("out").toString,
    stateFile = root.resolve("state/offsets.json").toString,
    dedupDefault = DedupConfig(enable = true))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def n(o: Observation): Long = o.get.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)

  /** `Restructure.run()`'s sequence, one span per public call. The
    * replica also lists files and scans headers on their own, so those
    * layers get spans; that repeated work is part of the tracing overhead. */
  def replica(ctx: Ctx, cfg: RestructureConfig): (mutable.Map[String, Any], Span) = {
    val tr = ctx.trace
    val spark = ctx.spark
    val c = mutable.LinkedHashMap[String, Any](
      "records" -> 0L, "files" -> 0L, "listed" -> 0L, "read" -> 0L, "unseen" -> 0L, "batches" -> 0L)
    def add(k: String, v: Long): Unit = c(k) = c(k).asInstanceOf[Long] + v
    val (_, root) = tr.root("pass") {
      val job = new Restructure(spark, cfg)
      val state = tr.span("state.loadState")(job.loadState())
      val topics = tr.span("restructure.listTopics")(job.listTopics())
      c("topics") = topics.size
      topics.foreach { topic =>
        add("listed", tr.span("restructure.listFiles")(job.listFiles(topic)).size)
        val files = tr.span("restructure.plan")(job.plan(topic, state))
        if (files.nonEmpty) {
          add("files", files.size)
          tr.span("avro.schemaGroups")(AvroSource.schemaGroups(spark, files.map(_.path),
            tolerant = cfg.faultTolerance, backoffMs = cfg.retryBackoffMs))
          tr.span("restructure.readTopic")(job.readTopic(topic, files)).foreach { df =>
            val (oRead, oUnseen, oKept) = (Observation(), Observation(), Observation())
            val read = df.observe(oRead, count(lit(1)).as("n"))
            val unseen = tr.span("restructure.filterSeen")(job.filterSeen(read, state))
              .observe(oUnseen, count(lit(1)).as("n"))
            val kept = tr.span("restructure.dedup")(job.dedup(topic, unseen))
              .observe(oKept, count(lit(1)).as("n"))
            tr.span("restructure.write") {
              job.writeSidecar(topic, df)
              job.write(topic, kept)
            }
            val added = tr.span("operators.ranges")(
              Intervals.collectRanges(job.processedRanges(unseen)))
            tr.span("state.commit") {
              state.addAll(added)
              job.saveState(state)
            }
            add("read", n(oRead)); add("unseen", n(oUnseen)); add("records", n(oKept))
            add("batches", 1)
          }
        }
      }
    }
    (c, root)
  }

  /** Per-layer figures of one traced replica pass. */
  def layers(ctx: Ctx, root: Span, c: collection.Map[String, Any]): Map[String, Double] = {
    val tr = ctx.trace
    def wall(names: String*): Double = names.flatMap(tr.named(root, _)).map(_.wallS).sum
    def long(k: String): Double = c(k).asInstanceOf[Long].toDouble
    val writes = tr.named(root, "restructure.write")
    Map(
      "restructure.list_s" -> wall("restructure.listTopics", "restructure.listFiles"),
      "restructure.files_listed" -> long("listed"),
      "restructure.plan_s" -> wall("restructure.plan"),
      "restructure.plan_yield" -> (if (long("listed") > 0) long("files") / long("listed") else 0.0),
      "avro.header_scan_s" -> wall("avro.schemaGroups"),
      "avro.files_scanned" -> long("files"),
      "restructure.filter_seen_s" -> wall("restructure.filterSeen"),
      "restructure.seen_drop_ratio" -> (if (long("read") > 0) 1.0 - long("unseen") / long("read") else 0.0),
      "operators.dedup_keep_ratio" -> (if (long("unseen") > 0) long("records") / long("unseen") else 0.0),
      "restructure.write_s" -> writes.map(_.wallS).sum,
      "restructure.write_task_s" -> writes.map(tr.taskS).sum,
      "operators.ranges_s" -> wall("operators.ranges"),
      "restructure.source_scans_per_pass" ->
        (if (long("batches") > 0) tr.scanStages(root).toDouble / long("batches") else 0.0),
      "restructure.commit_s" -> wall("state.commit"),
      "restructure.spark_jobs_per_topic" -> tr.jobs(root).toDouble / math.max(1L, c("topics").asInstanceOf[Int]),
      "restructure.driver_idle_s" -> tr.idleS(root),
      "untraced_s" -> tr.selfS(root)) ++ sparkFigures(ctx, root)
  }

  def sparkFigures(ctx: Ctx, root: Span): Map[String, Double] = {
    val tr = ctx.trace
    Map(
      "spark.task_s" -> tr.taskS(root),
      "spark.shuffle_read_mb" -> tr.shuffleReadMb(root),
      "spark.shuffle_write_mb" -> tr.shuffleWriteMb(root),
      "spark.spill_mb" -> tr.spillMb(root),
      "spark.peak_exec_mem_mb" -> tr.peakExecMb(root),
      "spark.gc_s" -> tr.gcS(root),
      "spark.stages" -> tr.stageCount(root).toDouble)
  }

  /** Self times of a root's subtree must add up to its wall. */
  def assertSelfSum(ctx: Ctx, root: Span): Unit = {
    val sum = ctx.trace.subtree(root).map(ctx.trace.selfS).sum
    require(math.abs(sum - root.wallS) < 1e-6, s"self times $sum != wall ${root.wallS}")
  }

  /** Median of each per-layer figure over the traced operations, plus the
    * tracing overhead: median traced wall minus mean untraced wall. */
  def summarize(ctx: Ctx, traced: Seq[Map[String, Double]], tracedWall: Seq[Double],
      untracedWall: Seq[Double]): Unit = {
    traced.flatMap(_.keys).distinct.foreach { k =>
      ctx.layers(k) = Ctx.median(traced.flatMap(_.get(k)))
    }
    ctx.layers("trace.overhead_s") =
      Ctx.median(tracedWall) - untracedWall.sum / math.max(1, untracedWall.size)
  }

  def state(cfg: RestructureConfig): Path = java.nio.file.Paths.get(cfg.stateFile)

  def stateFigures(ctx: Ctx, cfg: RestructureConfig): Map[String, Double] = {
    val st = new Restructure(ctx.spark, cfg).loadState()
    Map("state.ranges" -> st.entries.size.toDouble, "state.json_bytes" -> st.toJson.length.toDouble)
  }
}

object Bulk {
  import Pass._

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val input = ctx.work.resolve("in")
    var next = 0
    def fresh(): Path = {
      val root = ctx.work.resolve(s"passes/$next")
      next += 1
      Ctx.linkTree(input, root.resolve("in"))
      root
    }
    val warmRoot = ctx.stage(fresh())
    ctx.warmup(new Restructure(spark, config(warmRoot)).run())
    Ctx.rmTree(warmRoot)
    if (ctx.traced) phases(ctx, fresh())

    val traced = mutable.ArrayBuffer.empty[Map[String, Double]]
    val (tw, uw) = (mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double])
    // traced runs go untraced, traced, untraced, so the overhead compares
    // a traced operation with its neighbours on both sides
    ctx.measure(minOps = if (ctx.traced) 3 else 2) { i =>
      val root = fresh()
      val cfg = config(root)
      val op =
        if (ctx.traced && i % 2 == 1) {
          var c: mutable.Map[String, Any] = null
          var span: Span = null
          val rec = ctx.timed("traced" -> true) { val r = replica(ctx, cfg); c = r._1; span = r._2 }
          ctx.trace.settle()
          assertSelfSum(ctx, span)
          traced += layers(ctx, span, c) ++ stateFigures(ctx, cfg)
          tw += rec("wall_s").asInstanceOf[Double]
          rec ++= c.view.filterKeys(Set("records", "files"))
        } else {
          var res: graft.restructure.RestructureResult = null
          val rec = ctx.timed("traced" -> false) { res = new Restructure(spark, cfg).run() }
          uw += rec("wall_s").asInstanceOf[Double]
          rec ++= Seq("records" -> res.records, "files" -> res.files)
        }
      val parts = Ctx.partFiles(root.resolve("out"))
      op ++= Seq("root" -> ctx.work.relativize(root).toString,
        "output_files" -> parts.size, "output_bytes" -> parts.map(_._2).sum)
    }
    if (ctx.traced) {
      summarize(ctx, traced.toSeq, tw.toSeq, uw.toSeq)
      val root = fresh()
      new Restructure(spark, config(root)).run()
      Cleaning.run(ctx, root)
    }
  }

  /** The phase-row decomposition on a fresh copy: each row runs one more
    * layer than the one before, so differences give each layer's cost. */
  private def phases(ctx: Ctx, root: Path): Unit = {
    val spark = ctx.spark
    val tr = ctx.trace
    val cfg = config(root)
    val plain = cfg.copy(outputDir = root.resolve("out-plain").toString, compression = None)
    val job = new Restructure(spark, cfg)
    val jobPlain = new Restructure(spark, plain)
    val empty = new OffsetRangeSet
    val topic = job.listTopics().head
    val files = job.plan(topic, empty)
    val paths = files.map(_.path)
    val records = ctx.expected("records").toString.toDouble
    val ((schema, _), hdr) = tr.root("phase.header_scan")(
      AvroSource.schemaGroups(spark, paths, tolerant = true).head)
    val (_, read) = tr.root("phase.decode")(
      noop(AvroSource.read(spark, paths, schema, tolerant = true)))
    val (_, derive) = tr.root("phase.derive")(job.readTopic(topic, files).foreach(noop))
    val (_, dedup) = tr.root("phase.dedup")(
      job.readTopic(topic, files).foreach(df => noop(job.dedup(topic, job.filterSeen(df, empty)))))
    val (_, encode) = tr.root("phase.write_plain")(jobPlain.readTopic(topic, files)
      .foreach(df => jobPlain.write(topic, jobPlain.dedup(topic, jobPlain.filterSeen(df, empty)))))
    val (_, gzip) = tr.root("phase.write_gzip")(job.readTopic(topic, files)
      .foreach(df => job.write(topic, job.dedup(topic, job.filterSeen(df, empty)))))
    tr.settle()
    val parts = Ctx.partFiles(root.resolve("out"))
    ctx.layers ++= Seq(
      "avro.decode_s" -> read.wallS,
      "avro.decode_ns_per_record" -> read.wallS / records * 1e9,
      "avro.bytes_read" -> files.map(_.length).sum.toDouble,
      "functions.derive_ns_per_record" -> (derive.wallS - read.wallS - hdr.wallS) / records * 1e9,
      "operators.dedup_s" -> (dedup.wallS - derive.wallS),
      "operators.dedup_shuffle_write_mb" -> tr.shuffleWriteMb(dedup),
      "operators.dedup_spill_mb" -> tr.spillMb(dedup),
      "operators.flatten_encode_s" -> (encode.wallS - dedup.wallS),
      "compression.gzip_s" -> (gzip.wallS - encode.wallS),
      "restructure.files_written" -> parts.size.toDouble,
      "restructure.bytes_written" -> parts.map(_._2).sum.toDouble)
    Ctx.rmTree(root)
  }
}

/** The cleaner leg of bulk_restructure's traced run. */
object Cleaning {
  import Pass._

  /** Delete the generator's planted output bin from a restructured pass
    * root, then run one untraced `Cleaner.run()` and one traced replica,
    * each on the restored source files and state. */
  def run(ctx: Ctx, live: Path): Unit = {
    val spark = ctx.spark
    val cfg = config(live)
    val inRoot = live.resolve("in")
    val pristine = ctx.work.resolve("in")
    val planted = ctx.expected("planted").asInstanceOf[Map[String, Any]]
    Ctx.rmTree(live.resolve(s"out/sensor/_project=${planted("project")}" +
      s"/_user=${planted("user")}/_bin=${planted("bin")}"))
    val savedState = Files.readAllBytes(state(cfg))
    val prefix = inRoot.toUri.getPath
    def rel(p: String): String = p.substring(p.indexOf(prefix) + prefix.length).stripPrefix("/")
    val job = new Restructure(spark, cfg)
    val traced = mutable.ArrayBuffer.empty[Map[String, Double]]
    val ops = (0 until 2).map { i =>
      Ctx.linkTree(pristine, inRoot)
      Files.write(state(cfg), savedState)
      var deleted: Seq[String] = Nil
      var reprocess: Seq[String] = Nil
      val op =
        if (i % 2 == 1) {
          var fig: Map[String, Double] = null
          val rec = ctx.timed("traced" -> true) {
            val r = replica(ctx, cfg)
            deleted = r._1; reprocess = r._2; fig = r._3
          }
          traced += fig
          rec
        } else ctx.timed("traced" -> false) {
          val r = new Cleaner(spark, cfg).run()
          deleted = r._1; reprocess = r._2
        }
      val replanned = job.plan("sensor", job.loadState()).map(_.path)
      op ++= Seq("deleted" -> deleted.map(rel).sorted, "reprocess" -> reprocess.map(rel).sorted,
        "replanned" -> replanned.map(rel).sorted)
      op.toMap
    }
    ctx.result("clean_ops") = ops
    traced.foreach(ctx.layers ++= _)
  }

  /** `Cleaner.run()`'s sequence, one span per public call; the output
    * read-back also runs once on its own so its cost has a span. */
  private def replica(ctx: Ctx, cfg: RestructureConfig)
      : (Seq[String], Seq[String], Map[String, Double]) = {
    val tr = ctx.trace
    val spark = ctx.spark
    val deleted = mutable.ArrayBuffer.empty[String]
    val reprocess = mutable.ArrayBuffer.empty[String]
    var candidates = 0
    val (_, root) = tr.root("cleanpass") {
      val cleaner = new Cleaner(spark, cfg)
      val job = new Restructure(spark, cfg)
      val state = tr.span("state.loadState")(job.loadState())
      tr.span("restructure.listTopics")(job.listTopics()).foreach { topic =>
        val cand = tr.span("cleaner.candidates")(cleaner.candidates(topic, state))
        candidates += cand.size
        if (cand.nonEmpty) {
          tr.span("cleaner.extractedTimes")(noop(cleaner.extractedTimes(topic)))
          val unmatched = tr.span("cleaner.unmatchedCounts")(cleaner.unmatchedCounts(topic, cand))
          val removals = mutable.ArrayBuffer.empty[(TopicPartition, Long, Long)]
          tr.span("cleaner.delete") {
            cand.foreach { f =>
              unmatched.get(f.path) match {
                case Some((0L, _)) =>
                  val p = new org.apache.hadoop.fs.Path(f.path)
                  p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
                  deleted += f.path
                case Some((_, maxOff)) =>
                  removals += ((TopicPartition(f.topic, f.partition), f.startOffset,
                    f.endOffset.getOrElse(maxOff)))
                  reprocess += f.path
                case None => ()
              }
            }
          }
          if (removals.nonEmpty) tr.span("state.commit") {
            removals.foreach { case (tp, from, end) => state.remove(tp, from, end) }
            job.saveState(state)
          }
        }
      }
    }
    tr.settle()
    assertSelfSum(ctx, root)
    def wall(name: String): Double = tr.named(root, name).map(_.wallS).sum
    val fig = Map(
      "cleaner.candidates_s" -> wall("cleaner.candidates"),
      "cleaner.extract_s" -> wall("cleaner.extractedTimes"),
      "cleaner.verify_s" -> wall("cleaner.unmatchedCounts"),
      "cleaner.delete_s" -> wall("cleaner.delete"),
      "cleaner.verified_ratio" -> (if (candidates > 0) deleted.size.toDouble / candidates else 0.0))
    (deleted.toSeq, reprocess.toSeq, fig)
  }
}
