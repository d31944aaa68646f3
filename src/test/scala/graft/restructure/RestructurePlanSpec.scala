package graft.restructure

import graft.SparkSpec
import graft.catalyst.KeepFirstExec
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.ListenerBuses
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.catalyst.expressions.RegExpReplace
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, WriteFilesExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, REBALANCE_PARTITIONS_BY_COL, REBALANCE_PARTITIONS_BY_NONE, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.File
import scala.collection.mutable

/** The write job's executed plan: a restructure batch is partitioned by
  * output file `(_project, _user, _bin)` once, the keep-first dedup's
  * sort is the only sort the write needs, and the scan carries each
  * file's constants itself (no broadcast join). */
class RestructurePlanSpec extends SparkSpec {

  /** Every node of `plan`, through AQE's final plan and its query stages. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec        => s +: nodes(s.plan)
    case p                        => p +: p.children.flatMap(nodes)
  }

  /** The `WriteFilesExec` nodes of the jobs `body` runs that write under
    * `outputDir`, as executed. */
  private def writes(outputDir: String)(body: => Unit): Seq[SparkPlan] = {
    val found = mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val all = nodes(qe.executedPlan)
        val ours = all.exists {
          case DataWritingCommandExec(i: InsertIntoHadoopFsRelationCommand, _) =>
            i.outputPath.toString.contains(outputDir)
          case _ => false
        }
        if (ours) found.synchronized { found ++= all.collect { case w: WriteFilesExec => w } }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      ListenerBuses.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    found.toSeq
  }

  private def exchanges(plan: SparkPlan) = nodes(plan).collect { case e: ShuffleExchangeExec => e }

  test("a dedup-enabled batch shuffles once and sorts once below WriteFiles") {
    val (_, cfg) = RestructureFixture.setup()
    val plans = writes(cfg.outputDir)(new Restructure(spark, cfg).run())
    assert(plans.size == 1)
    val plan = plans.head
    assert(exchanges(plan).size == 1, plan.treeString)
    assert(exchanges(plan).forall(e =>
      e.shuffleOrigin != REBALANCE_PARTITIONS_BY_COL && e.shuffleOrigin != REBALANCE_PARTITIONS_BY_NONE))
    assert(nodes(plan).count(_.isInstanceOf[SortExec]) == 1, plan.treeString)
    // the dedup streams over the sorted rows: no window copies them again
    assert(nodes(plan).count(_.isInstanceOf[KeepFirstExec]) == 1, plan.treeString)
    assert(!nodes(plan).exists(n => n.isInstanceOf[WindowExec] || n.isInstanceOf[WindowGroupLimitExec]),
      plan.treeString)
    // per-file constants come from the scan, ids from the byte-loop kernel
    val all = nodes(plan)
    // the scan is the graft Avro DSv2 scan, not an RDD of rows
    assert(all.collect { case b: BatchScanExec => b.table.name() } == Seq("graft-avro"), plan.treeString)
    assert(!all.exists(_.isInstanceOf[RDDScanExec]), plan.treeString)
    assert(!all.exists(n => n.isInstanceOf[BroadcastHashJoinExec] || n.isInstanceOf[BroadcastExchangeExec]),
      plan.treeString)
    assert(!all.flatMap(_.expressions).exists(_.exists(_.isInstanceOf[RegExpReplace])), plan.treeString)
    assert(all.flatMap(_.expressions).exists(_.exists(_.isInstanceOf[graft.catalyst.SanitizeId])))
  }

  /** Spark jobs started, and the task count of each stage submitted (in
    * submission order), in the job group `body` runs in. */
  private def scheduled(body: => Unit): (Int, Seq[Int]) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    def ours(p: java.util.Properties) = Option(p).exists(_.getProperty("spark.jobGroup.id") == group)
    val started = new java.util.concurrent.atomic.AtomicInteger
    val stageTasks = mutable.ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) started.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) stageTasks.synchronized { stageTasks += e.stageInfo.numTasks }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobs", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      ListenerBuses.drain(sc)
      (started.get, stageTasks.synchronized(stageTasks.toSeq))
    } finally sc.removeSparkListener(listener)
  }

  test("a one-batch run() starts two jobs: the write's shuffle stage and the write") {
    val (_, cfg) = RestructureFixture.setup()
    assert(scheduled(assert(new Restructure(spark, cfg).run().files == 2))._1 == 2)
  }

  test("building a batch's frame starts no Spark job") {
    val (_, cfg) = RestructureFixture.setup()
    val job = new Restructure(spark, cfg)
    val files = job.plan("application_server_status", new graft.state.OffsetRangeSet)
    assert(files.size == 2)
    var frames = Seq.empty[org.apache.spark.sql.DataFrame]
    assert(scheduled { frames = job.readTopic("application_server_status", files) }._1 == 0)
    assert(frames.map(_.count()) == Seq(4L))
  }

  test("the write stage runs one task per shuffle partition, however small the batch") {
    // a few KB, far below AQE's minimum partition size: a coalesced
    // exchange would leave the write on fewer tasks than cores
    val partitions = spark.sessionState.conf.numShufflePartitions
    for (dedup <- Seq(true, false)) {
      val (_, base) = RestructureFixture.setup()
      val cfg = if (dedup) base else base.copy(dedupDefault = DedupConfig())
      val (_, stageTasks) = scheduled(assert(new Restructure(spark, cfg).run().files == 2))
      assert(stageTasks.lastOption.contains(partitions), s"dedup $dedup: $stageTasks")
    }
  }

  test("a key without projectId shuffles once: the constant _project stays out of the hash") {
    val schema = new Schema.Parser().parse(
      """{"type":"record","name":"Envelope","fields":[
        | {"name":"key","type":{"type":"record","name":"Key","fields":[
        |   {"name":"userId","type":"string"},
        |   {"name":"sourceId","type":"string"}]}},
        | {"name":"value","type":{"type":"record","name":"Value","fields":[
        |   {"name":"time","type":"double"},
        |   {"name":"status","type":"string"}]}}
        |]}""".stripMargin)
    def rec(time: Double): GenericRecord = {
      val key = new GenericData.Record(schema.getField("key").schema())
      key.put("userId", "user1"); key.put("sourceId", "source1")
      val value = new GenericData.Record(schema.getField("value").schema())
      value.put("time", time); value.put("status", "OK")
      val r = new GenericData.Record(schema)
      r.put("key", key); r.put("value", value)
      r
    }
    val (dir, base) = RestructureFixture.setup()
    val file = new File(dir, "in2/keyless/partition=0/keyless+0+0000000000.avro")
    file.getParentFile.mkdirs()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, file)
    Seq(RestructureFixture.t1, RestructureFixture.t1, RestructureFixture.t2).map(rec).foreach(w.append)
    w.close()
    val cfg = base.copy(inputDir = new File(dir, "in2").toString)
    val job = new Restructure(spark, cfg)
    val plans = writes(cfg.outputDir)(assert(job.run().records == 2))
    assert(plans.size == 1)
    // one exchange and one sort: the keep-first sort leads with the
    // constant _project, so the write's (_project, _user, _bin) order holds
    assert(exchanges(plans.head).size == 1, plans.head.treeString)
    assert(nodes(plans.head).count(_.isInstanceOf[SortExec]) == 1, plans.head.treeString)
    assert(new File(cfg.outputDir, "keyless/_project=unknown-project/_user=user1").isDirectory)
  }

  test("a dedup-disabled batch shuffles once below WriteFiles") {
    val (_, base) = RestructureFixture.setup()
    val cfg = base.copy(dedupDefault = DedupConfig())
    val plans = writes(cfg.outputDir)(new Restructure(spark, cfg).run())
    assert(plans.size == 1)
    assert(exchanges(plans.head).size == 1, plans.head.treeString)
  }
}
