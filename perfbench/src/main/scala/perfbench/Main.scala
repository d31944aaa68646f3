package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The measured process: runs one workload over the files the generator
  * wrote into the work directory and writes `result.json` there. The
  * checker (check.py) judges each recorded operation afterwards.
  *
  * Usage: Main <workload> <workDir> <seconds> <trace 0|1>
  */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, seconds, trace) = args
    val work = Paths.get(workDir).toAbsolutePath
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = graft.Sessions.build("perfbench", cpus)
    val ctx = new Ctx(spark, work, seconds.toDouble, trace == "1", jvmStartMs)
    workload match {
      case "bulk_restructure" => Bulk.run(ctx)
      case "catalog_core"     => Catalog.run(ctx)
      case other              => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.trace.stop()
    if (ctx.traced) Files.writeString(work.resolve("spans.json"), Json(ctx.trace.dump))
    ctx.result("peak_rss_mb") = Ctx.vmHwmMb()
    Files.writeString(work.resolve("result.json"), Json(ctx.result.toMap))
    spark.stop()
  }
}

/** What a workload needs: the session, its directory, its time budget,
  * the tracer, and the result it fills in. */
final class Ctx(val spark: SparkSession, val work: Path, val seconds: Double,
    val traced: Boolean, jvmStartMs: Long) {
  val trace = new Trace(spark, traced)
  val result = mutable.LinkedHashMap[String, Any](
    "session_s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3)
  val layers = mutable.LinkedHashMap.empty[String, Double]
  result("layers") = layers

  lazy val expected: Map[String, Any] =
    Json.parse(Files.readString(work.resolve("expected.json"))).asInstanceOf[Map[String, Any]]

  /** Repeats the workload's staging step three times and keeps the
    * median; the last repetition's product is what the run uses. */
  def stage[T](body: => T): T = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    (0 until 3).foreach { _ =>
      val t0 = System.nanoTime()
      last = Some(body)
      times += (System.nanoTime() - t0) / 1e9
    }
    result("staging_s") = times.toSeq
    last.get
  }

  /** The cold first operation, timed as part of set-up. */
  def warmup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    layers("setup.warm_s") = (System.nanoTime() - t0) / 1e9
    r
  }

  /** Runs `op` until the measuring window closes (an operation started
    * inside the window runs to completion), at least `minOps` times. */
  def measure(minOps: Int)(op: Int => mutable.Map[String, Any]): Unit = {
    val ops = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    // set-up: everything from JVM start to the first measured operation
    result("until_first_op_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (ops.size < minOps || System.nanoTime() < deadline) {
      ops += op(ops.size)
    }
    result("ops") = ops.map(_.toMap).toSeq
  }

  def timed(fields: (String, Any)*)(body: => Unit): mutable.Map[String, Any] = {
    val t0 = System.nanoTime()
    body
    mutable.LinkedHashMap[String, Any]("wall_s" -> (System.nanoTime() - t0) / 1e9) ++= fields
  }
}

object Ctx {
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Hard-link every file under `from` into the same relative path under
    * `to`: a fresh copy of an input tree that shares the files' bytes and
    * mtimes. */
  def linkTree(from: Path, to: Path): Unit = {
    val it = Files.walk(from).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (Files.isRegularFile(p)) {
        val dst = to.resolve(from.relativize(p))
        Files.createDirectories(dst.getParent)
        if (!Files.exists(dst)) Files.createLink(dst, p)
      }
    }
  }

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val paths = Files.walk(p).sorted(java.util.Comparator.reverseOrder()).toArray
      paths.foreach(x => Files.delete(x.asInstanceOf[Path]))
    }

  /** Part files under `root` and their total size. */
  def partFiles(root: Path): Seq[(Path, Long)] =
    if (!Files.exists(root)) Seq.empty
    else {
      val out = mutable.ArrayBuffer.empty[(Path, Long)]
      val it = Files.walk(root).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
          out += ((p, Files.size(p)))
      }
      out.toSeq
    }
}
