package perfbench

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One timed call into the program. Spans nest: `parent` is the span that
  * was open when this one started (-1 for a root). Spark work run inside a
  * span is attributed to it through the job group the span sets. */
final class Span(val id: Int, val name: String, val parent: Int) {
  var startNs = 0L
  var endNs = 0L
  var startMs = 0L
  var endMs = 0L
  def wallS: Double = (endNs - startNs) / 1e9
  // Spark work attributed directly to this span (not to its children)
  var jobs = 0
  val stages = mutable.Set.empty[Int]
  var taskNs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var peakExecB = 0L
  var gcMs = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  // stages that decoded Avro source files (their RDD was built by AvroSource)
  val scanStages = mutable.Set.empty[Int]
}

/** Span recorder and the SparkListener that attributes stage metrics to
  * spans. Off (the default) a span costs one branch and sets no job group,
  * so untraced runs pay nothing. Spans stay in memory until the run ends. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val byStage = mutable.Map.empty[Int, Span]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt)
        .filter(_ < spans.size).foreach { id =>
          val s = spans(id)
          s.jobs += 1
          e.stageIds.foreach(st => byStage(st) = s)
        }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      byStage.get(e.stageId).foreach { s =>
        s.stages += e.stageId
        val m = e.taskMetrics
        if (m != null) {
          s.taskNs += m.executorRunTime * 1000000L
          s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          s.spillB += m.diskBytesSpilled
          s.peakExecB = math.max(s.peakExecB, m.peakExecutionMemory)
          s.gcMs += m.jvmGCTime
        }
        s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      byStage.get(e.stageInfo.stageId).foreach { s =>
        if (e.stageInfo.numTasks > 0 && e.stageInfo.rddInfos.exists(_.callSite.contains("AvroSource")))
          s.scanStages += e.stageInfo.stageId
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = listener.synchronized {
        val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1))
        spans += s
        s
      }
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      open.push(s)
      sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
      s.startMs = System.currentTimeMillis()
      s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open.pop()
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
      }
    }

  /** Deliver every pending listener event before spans are read. */
  def settle(): Unit = if (enabled) BusDrain.drain(sc)

  def stop(): Unit = if (enabled) { settle(); sc.removeSparkListener(listener) }

  /** Every span with its timing and Spark figures, as JSON rows. */
  def dump: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "wall_s" -> s.wallS,
      "self_s" -> selfS(s), "jobs" -> s.jobs, "stages" -> s.stages.size,
      "scan_stages" -> s.scanStages.size, "task_s" -> s.taskNs / 1e9)
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def descendants(s: Span): Seq[Span] = children(s).flatMap(c => c +: descendants(c))
  def subtree(s: Span): Seq[Span] = s +: descendants(s)

  /** Duration minus the part of it that child spans cover (children of
    * one span run one after another, so their durations add). */
  def selfS(s: Span): Double = s.wallS - children(s).map(_.wallS).sum

  /** Wall time of `s` during which no task of its subtree was running:
    * driver-side work and scheduling gaps. */
  def idleS(s: Span): Double = {
    val iv = subtree(s).flatMap(_.taskIntervals)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, s.wallS - covered / 1e3)
  }

  def taskS(s: Span): Double = subtree(s).map(_.taskNs).sum / 1e9
  def jobs(s: Span): Int = subtree(s).map(_.jobs).sum
  def stageCount(s: Span): Int = subtree(s).flatMap(_.stages).distinct.size
  def shuffleReadMb(s: Span): Double = subtree(s).map(_.shuffleReadB).sum / 1048576.0
  def shuffleWriteMb(s: Span): Double = subtree(s).map(_.shuffleWriteB).sum / 1048576.0
  def spillMb(s: Span): Double = subtree(s).map(_.spillB).sum / 1048576.0
  def peakExecMb(s: Span): Double = subtree(s).map(_.peakExecB).foldLeft(0L)(math.max) / 1048576.0
  def gcS(s: Span): Double = subtree(s).map(_.gcMs).sum / 1e3
  def scanStages(s: Span): Int = subtree(s).flatMap(_.scanStages).distinct.size

  /** Runs `body` in a span and returns the span with the result. */
  def root[T](name: String)(body: => T): (T, Span) = {
    val id = spans.size
    val r = span(name)(body)
    (r, spans(id))
  }

  /** The spans named `name` inside `root`'s subtree. */
  def named(root: Span, name: String): Seq[Span] = descendants(root).filter(_.name == name)
}
