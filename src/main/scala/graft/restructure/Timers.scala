package graft.restructure

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{LongAccumulator, LongAdder}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** A4 — labeled phase timers (reference: util/Timer.kt:27-121): `time`
  * accumulates per-label invocation counts and wall time, is disabled by
  * default so timed code pays nothing in production, and renders a sorted
  * report.
  *
  * The reference counts threads per label because its workers are local
  * threads; on Spark the work happens in executor tasks, so the
  * distributed twin of that column is CLUSTER TASK TIME: a listener tags
  * every job launched inside `time` with the phase label (job-group local
  * property, the idiomatic Spark channel for exactly this) and attributes
  * task run time and task counts back to the label. Driver wall time and
  * cluster task time together show both "how long did the phase take" and
  * "how much parallel work did it do" — the two numbers that matter when a
  * phase is scaled from one node to a thousand executors.
  *
  * The same attribution carries the task metrics a scale rehearsal asks
  * about: stages run, spill, the largest single-task execution memory,
  * shuffle bytes and input records, plus the label's top spilling stages
  * named by their RDD scopes. This is the one Spark listener of the
  * library; benchmarks read their numbers from a label instead of adding
  * their own.
  */
object Timers {

  /** Immutable snapshot of one label's timings. Byte and record counters
    * are totals over the label's tasks; `peakTaskMemBytes` is the largest
    * single-task peak execution memory; `spillStages` names the label's
    * top spilling stages, largest first. */
  final case class Entry(
      invocations: Long,
      wallNanos: Long,
      taskNanos: Long,
      tasks: Long,
      stages: Long,
      memSpilledBytes: Long,
      diskSpilledBytes: Long,
      peakTaskMemBytes: Long,
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long,
      inputRecords: Long,
      spillStages: Seq[String])

  /** Spilling stages kept per label. */
  private val SpillStagesKept = 3

  private final class MutableEntry {
    val invocations = new LongAdder
    val wallNanos = new LongAdder
    val taskNanos = new LongAdder
    val tasks = new LongAdder
    val stages = new LongAdder
    val memSpilled = new LongAdder
    val diskSpilled = new LongAdder
    val peakTaskMem = new LongAccumulator((a: Long, b: Long) => math.max(a, b), 0L)
    val shuffleRead = new LongAdder
    val shuffleWrite = new LongAdder
    val inputRecords = new LongAdder
    // (memory bytes spilled, "stage id (scopes)"), largest first
    private var spilled = Vector.empty[(Long, String)]
    def addSpillStage(bytes: Long, name: String): Unit = synchronized {
      spilled = (spilled :+ (bytes -> name)).sortBy(-_._1).take(SpillStagesKept)
    }
    def snapshot: Entry = Entry(invocations.sum, wallNanos.sum, taskNanos.sum, tasks.sum,
      stages.sum, memSpilled.sum, diskSpilled.sum, peakTaskMem.get, shuffleRead.sum,
      shuffleWrite.sum, inputRecords.sum,
      synchronized(spilled).map { case (b, n) => f"stage $n: ${b / 1048576}%d MiB" })
  }

  private val PhaseKey = "graft.timer.phase"
  private val entries = new ConcurrentHashMap[String, MutableEntry]()
  // weak keys: a stopped context must not be pinned for the JVM lifetime
  private val attachedTo = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkContext, java.lang.Boolean]()))
  // listener events seen; settle() waits for it to stop moving
  private val events = new LongAdder

  /** Disabled timers run the action with zero bookkeeping (reference
    * semantics: `isEnabled` gates all accounting). */
  @volatile var enabled: Boolean = false

  private def entry(label: String): MutableEntry =
    entries.computeIfAbsent(label, _ => new MutableEntry)

  /** Stage -> phase label, fed by job-start events; pruned per JOB (not per
    * stage: stages skipped thanks to reused shuffle output never complete,
    * and would leak a per-stage map on a long-lived driver). */
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
  // stage -> number of live labeled jobs referencing it: a stage shared via
  // shuffle reuse with a still-running job must keep its mapping until the
  // LAST referencing job ends, or that job's remaining task-end events
  // would silently lose attribution
  private val stageRefs = new ConcurrentHashMap[Int, Integer]()

  private object Listener extends SparkListener {
    override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
      // properties is nullable on SparkListenerJobStart (e.g. replayed logs)
      val phase = Option(jobStart.properties).map(_.getProperty(PhaseKey)).orNull
      if (phase != null) {
        jobStages.put(jobStart.jobId, jobStart.stageIds)
        jobStart.stageIds.foreach { id =>
          stageRefs.merge(id, Int.box(1), (a, b) => Int.box(a + b))
          // putIfAbsent: a stage shared with a still-running earlier job
          // keeps its original label — in-flight tasks are not re-attributed
          stagePhase.putIfAbsent(id, phase)
        }
      }
    }
    override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
      events.increment()
      val phase = stagePhase.get(taskEnd.stageId)
      val m = taskEnd.taskMetrics
      if (phase != null && m != null) {
        val e = entry(phase)
        e.tasks.increment()
        e.taskNanos.add(m.executorRunTime * 1000000L)
        e.memSpilled.add(m.memoryBytesSpilled)
        e.diskSpilled.add(m.diskBytesSpilled)
        e.peakTaskMem.accumulate(m.peakExecutionMemory)
        e.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        e.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        e.inputRecords.add(m.inputMetrics.recordsRead)
      }
    }
    override def onStageCompleted(stageCompleted: SparkListenerStageCompleted): Unit = {
      events.increment()
      val info = stageCompleted.stageInfo
      val phase = stagePhase.get(info.stageId)
      if (phase != null) {
        val e = entry(phase)
        e.stages.increment()
        // the stage's metrics are its tasks' merged accumulators
        val spilled = Option(info.taskMetrics).map(_.memoryBytesSpilled).getOrElse(0L)
        if (spilled > 0) {
          // RDD operation scopes name the physical operators in the stage
          // (WholeStageCodegen(n)/Exchange/ObjectHashAggregate...), which
          // is what identifies a spiller; the call-site name is usually an
          // AQE thread-pool lambda
          val scopes = info.rddInfos.flatMap(_.scope).map(_.name).distinct.mkString(", ")
          e.addSpillStage(spilled,
            s"${info.stageId} (${if (scopes.nonEmpty) scopes else info.name})")
        }
      }
    }
    override def onJobEnd(jobEnd: SparkListenerJobEnd): Unit = {
      // task-end and stage-completed events precede job end on the bus, so
      // pruning a stage once its last referencing job finishes loses no
      // attributions
      val ids = jobStages.remove(jobEnd.jobId)
      if (ids != null) ids.foreach { id =>
        val left = stageRefs.merge(id, Int.box(-1), (a, b) => Int.box(a + b))
        if (left == null || left <= 0) {
          stageRefs.remove(id)
          stagePhase.remove(id)
        }
      }
    }
  }

  /** Idempotently register the attribution listener on this session's
    * context. Called by `time`; exposed for tests. */
  def attach(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (attachedTo.add(sc)) sc.addSparkListener(Listener)
  }

  /** Time `action` under `label`. Jobs submitted inside it (on this thread)
    * have their task time attributed to the label; nesting restores the
    * outer label for code after the inner block. */
  def time[T](spark: SparkSession, label: String)(action: => T): T =
    if (!enabled) action
    else {
      attach(spark)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(PhaseKey)
      sc.setLocalProperty(PhaseKey, label)
      val t0 = System.nanoTime()
      try action
      finally {
        val dt = System.nanoTime() - t0
        sc.setLocalProperty(PhaseKey, prev)
        val e = entry(label)
        e.invocations.increment()
        e.wallNanos.add(dt)
      }
    }

  /** Wait until the listener bus is quiet: no task or stage event arrives
    * across a 200 ms poll. The bus is asynchronous, so a job that has
    * returned may still have events queued; call this before reading task
    * metrics that must be complete. Returns at once when disabled. */
  def settle(): Unit =
    if (enabled) {
      var prev = -1L
      var cur = events.sum
      while (prev != cur) {
        Thread.sleep(200)
        prev = cur
        cur = events.sum
      }
    }

  /** Thread-safe sorted snapshot of all timings (reference `timings`). */
  def timings: Map[String, Entry] = {
    val b = scala.collection.immutable.TreeMap.newBuilder[String, Entry]
    entries.forEach((k, v) => b += k -> v.snapshot)
    b.result()
  }

  def reset(): Unit = {
    entries.clear()
    stagePhase.clear()
    jobStages.clear()
    // a mid-job reset orphans the in-flight job's positive refcounts —
    // without clearing, a later job sharing a stage id would decrement to
    // 1 instead of 0 and its stagePhase entry would never prune
    stageRefs.clear()
  }

  /** Sorted per-label report, same overall shape as the reference's
    * shutdown report (label, time, parallelism, invocations), followed by
    * the label's stage and byte counters. */
  def report: String = {
    def mib(bytes: Long): String = f"${bytes / 1048576.0}%.1f MiB"
    val sb = new StringBuilder("Timings:")
    if (!enabled) sb.append(" disabled")
    else if (entries.isEmpty) sb.append(" none")
    else timings.foreach { case (label, e) =>
      sb.append(f"%n\t$label - wall: ${e.wallNanos / 1e6}%.1f ms" +
        f" - task time: ${e.taskNanos / 1e6}%.1f ms" +
        s" - tasks: ${e.tasks} - invocations: ${e.invocations}" +
        s" - stages: ${e.stages} - shuffle write: ${mib(e.shuffleWriteBytes)}" +
        s" - spill: ${mib(e.memSpilledBytes)} - peak task mem: ${mib(e.peakTaskMemBytes)}")
    }
    sb.toString
  }
}
