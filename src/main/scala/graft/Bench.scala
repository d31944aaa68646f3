package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.build("graft-bench")
    // warm the session (JIT, codegen, FS metadata) outside the measurements
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    // Per-query time = min of two back-to-back runs. The first run pays the
    // one-off Janino codegen compile + JIT warm-up for that query's plan;
    // running the second immediately (rather than in a separate warm-up
    // pass over the whole catalog) keeps the generated classes inside the
    // bounded codegen cache, so the min reflects steady-state execution and
    // round-over-round deltas are signal instead of cold-JVM noise.
    // A query failing on either run is named on stderr and in a
    // bench_failures line, and recorded as None (see [[totals]]).
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          None
        }
      }
      name -> (if (times.contains(None)) None else Some(times.flatten.min))
    }
    val (line, compact) = totals(results, sfDir)
    println(line)
    // The driver's captured BENCH_r{N}.json tail truncates mid-line once the
    // catalog outgrew it; the full sorted per-query map lands in-repo as
    // BENCH.json so round-over-round comparisons always cover every query.
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH.json"), line + "\n")
    val failed = results.collect { case (name, None) => name }
    if (failed.nonEmpty)
      println(s"""{"metric":"bench_failures","n":${failed.size},""" +
        s""""queries":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
    // Compact twin as the FINAL stdout line: the full line above (~4 KB at
    // 175 queries) outgrows the driver's 2 KB tail capture, which has
    // nulled PERF per-query comparison since round 18 — this line always
    // fits the tail whole; the per-query map stays in BENCH.json.
    println(compact)
    spark.stop()
  }

  /** The full total line (per-query map) and its compact twin for
    * per-query best times `results` (None = failed). A failed query is
    * null in the map and left out of the sum — its fast failure time
    * would flatter the total — and both lines carry the `failed` count,
    * so a total over fewer queries never reads as like-for-like. */
  private[graft] def totals(
      results: Seq[(String, Option[Double])],
      sfDir: String): (String, String) = {
    // 3-decimal (ms) resolution: methodology unchanged, but the one-line
    // JSON shrinks from ~5.1 KB toward the driver's truncated tail capture
    def f3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v.fold("null")(f3) }
      .mkString("{", ",", "}")
    val head = s"""{"metric":"total","value":${f3(results.flatMap(_._2).sum)},""" +
      s""""unit":"sec","failed":${results.count(_._2.isEmpty)}"""
    (s"""$head,"queries":$qs,"sf":"$sfDir"}""",
      s"""$head,"sf":"$sfDir","detail":"BENCH.json"}""")
  }
}
