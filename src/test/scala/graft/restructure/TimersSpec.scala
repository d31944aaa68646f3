package graft.restructure

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** A4 — labeled phase timers: disabled-by-default bookkeeping, wall-time
  * accumulation, nested-label restore, and listener attribution of executor
  * task counts/time and task metrics to the enclosing phase.
  */
class TimersSpec extends SparkSpec {

  private def awaitTasks(label: String, timeoutMs: Long = 10000): Timers.Entry = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var e = Timers.timings.get(label)
    while (System.currentTimeMillis() < deadline && !e.exists(_.tasks > 0)) {
      Thread.sleep(50)
      e = Timers.timings.get(label)
    }
    e.getOrElse(fail(s"no timer entry for $label"))
  }

  test("disabled timer records nothing and still runs the action") {
    Timers.reset()
    Timers.enabled = false
    var ran = false
    Timers.time(spark, "spec.disabled") { ran = true }
    assert(ran)
    assert(!Timers.timings.contains("spec.disabled"))
    assert(Timers.report == "Timings: disabled")
  }

  test("enabled timer accumulates wall time, invocations, and task time") {
    Timers.reset()
    Timers.enabled = true
    try {
      (1 to 2).foreach { _ =>
        Timers.time(spark, "spec.sum") {
          spark.range(1000000).selectExpr("sum(id * id)").collect()
        }
      }
      val e = awaitTasks("spec.sum")
      assert(e.invocations == 2)
      assert(e.wallNanos > 0)
      assert(e.tasks > 0)
      assert(Timers.report.contains("spec.sum"))
    } finally Timers.enabled = false
  }

  test("a config-enabled restructure run records and reports the phases") {
    Timers.reset()
    Timers.enabled = false
    val (_, cfg) = RestructureFixture.setup()
    try {
      new Restructure(spark, cfg.copy(enableTimers = true)).run()
      assert(Timers.enabled) // config flag flipped the global, reference-style
      val labels = Timers.timings.keySet
      assert(Set("restructure.plan", "restructure.read", "restructure.write",
        "restructure.commit").subsetOf(labels))
      assert(Timers.timings("restructure.write").wallNanos > 0)
      // the write phase RUNS the lazy plan, so cluster task time lands there
      val e = awaitTasks("restructure.write")
      assert(e.tasks > 0)
      assert(Timers.report.contains("restructure.plan"))
    } finally Timers.enabled = false
  }

  test("the restructure write phase reports the records its Avro scan read") {
    Timers.reset()
    Timers.enabled = false
    val (_, cfg) = RestructureFixture.setup()
    try {
      val job = new Restructure(spark, cfg.copy(enableTimers = true))
      job.run()
      val ledgered = job.loadState().entries.map { case (_, r) => r.to - r.from + 1 }.sum
      assert(ledgered == 4)
      // the scan's tasks count their input records, as Spark's own scans do
      assert(Timers.timings("restructure.write").inputRecords == ledgered)
    } finally Timers.enabled = false
  }

  test("a labelled shuffle job carries its stage, shuffle and memory metrics") {
    Timers.reset()
    Timers.enabled = true
    try {
      Timers.time(spark, "spec.shuffle") {
        spark.range(0, 200000, 1, 4).groupBy(col("id") % 100).count().collect()
      }
      Timers.settle()
      val e = Timers.timings("spec.shuffle")
      assert(e.stages >= 2, e)
      assert(e.shuffleWriteBytes > 0, e)
      assert(e.shuffleReadBytes > 0, e)
      assert(e.peakTaskMemBytes > 0, e)
      assert(Timers.report.contains("spec.shuffle"))
    } finally Timers.enabled = false
  }

  test("nested labels attribute to the inner phase and restore the outer") {
    Timers.reset()
    Timers.enabled = true
    try {
      Timers.time(spark, "spec.outer") {
        Timers.time(spark, "spec.inner") {
          spark.range(100000).selectExpr("max(id)").collect()
        }
        assert(spark.sparkContext.getLocalProperty("graft.timer.phase") == "spec.outer")
      }
      assert(spark.sparkContext.getLocalProperty("graft.timer.phase") == null)
      val inner = awaitTasks("spec.inner")
      assert(inner.tasks > 0)
      // the job ran inside the INNER phase; outer saw no tasks of its own
      assert(Timers.timings("spec.outer").tasks == 0)
      assert(Timers.timings("spec.outer").invocations == 1)
    } finally Timers.enabled = false
  }
}
