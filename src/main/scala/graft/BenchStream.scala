package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Throughput bench for the streaming twins: each twin ingests the corpus
  * in two arrival waves (AvailableNow micro-batch runs over a parquet
  * source), so wave 1 shows cold-start cost (session codegen + state
  * bootstrap) and wave 2 the steady per-micro-batch rate an always-on
  * intake would sustain. Prints one line per (twin, wave) with wall
  * seconds and rows/s; results are recorded in BENCHSCALE.md.
  *
  * Usage: runMain graft.BenchStream [sfDir] — run on a quiet machine,
  * never concurrently with sbt compiles (same contention caveat as
  * BenchMed).
  */
object BenchStream {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.build("graft-bench-stream")
    import spark.implicits._

    val base = Files.createTempDirectory("graft-bench-stream").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val events = Tables.load(spark, sfDir, "events")
    val nDocs = docs.count()
    val nEvents = events.count()

    // documents with an arrival timestamp (and a raw-spelling URL for the
    // frontier twins — the url_dedup synthesis: 4 spellings per page)
    val d = col("doc_id")
    val page = expr("doc_id div 4").cast("string")
    val h = concat(lit("h"), expr("doc_id div 4 % 50").cast("string"))
    val raw = when(d % 13 === 0, lit("not a url"))
      .when(d % 4 === 0, concat(lit("https://"), h, lit(".example.com/page/"), page))
      .when(d % 4 === 1,
        concat(lit("HTTPS://WWW."), upper(h), lit(".Example.COM:443/page/"), page, lit("/")))
      .when(d % 4 === 2,
        concat(lit("https://"), h, lit(".example.com/page/"), page, lit("?utm_source=feed")))
      .otherwise(concat(lit("https://www."), h, lit(".example.com/page/"), page, lit("#top")))
    val stamped = docs
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + d % 3600))
      .withColumn("url", raw)

    // persisted reference state for the cross-run twins: frontier keys and
    // the incremental-dedup index over an "already crawled" 20% slice
    val ref = stamped.filter(d % 5 === 0)
    val newDocs = stamped.filter(d % 5 =!= 0)
    graft.dedup.UrlFrontier.saveIndex(
      graft.dedup.UrlFrontier.buildIndex(ref, "doc_id", "url"), s"$base/frontier")
    graft.dedup.Incremental.saveIndex(
      graft.dedup.Incremental.buildIndex(ref, "doc_id", "text"),
      s"$base/incindex")

    /** Writes `waves` arrival waves of `input` and times the twin's
      * AvailableNow run after each. */
    def bench(name: String, input: DataFrame, splitCol: String)(
        run: (String, String, String) => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val in = s"$base/$name/in"
      val out = s"$base/$name/out"
      val cp = s"$base/$name/cp"
      val waves = Seq(
        input.filter(col(splitCol) % 2 === 0),
        input.filter(col(splitCol) % 2 =!= 0))
      waves.zipWithIndex.foreach { case (w, i) =>
        val rows = w.count()
        w.write.mode("append").parquet(in)
        val t0 = System.nanoTime()
        run(in, out, cp).awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"$name%-26s wave${i + 1} rows=$rows%8d wall=$sec%7.2f s  thpt=${rows / sec}%11.0f rows/s")
      }
    }

    bench("curateStream", stamped, "doc_id") { (in, out, cp) =>
      graft.streaming.Streaming.curateStream(spark, in, out, cp)
    }
    bench("urlDedupStream", stamped, "doc_id") { (in, out, cp) =>
      graft.streaming.Streaming.urlDedupStream(spark, in, out, cp)
    }
    bench("urlFrontierRefreshStream", newDocs, "doc_id") { (in, out, cp) =>
      graft.streaming.Streaming.urlFrontierRefreshStream(
        spark, in, out, cp, s"$base/frontier")
    }
    bench("incrementalDedupStream", newDocs, "doc_id") { (in, out, cp) =>
      graft.streaming.Streaming.incrementalDedupStream(
        spark, in, out, cp, s"$base/incindex")
    }
    bench("quantileSampleStream", stamped, "doc_id") { (in, out, cp) =>
      graft.streaming.Streaming.quantileSampleStream(spark, in, out, cp)
    }
    bench("hllStream", stamped, "doc_id") { (in, out, cp) =>
      graft.streaming.Streaming.hllStream(spark, in, out, cp)
    }
    bench("cmsStream", stamped, "doc_id") { (in, out, cp) =>
      graft.streaming.Streaming.cmsStream(spark, in, out, cp)
    }
    bench("ewmaStream", events, "event_id") { (in, out, cp) =>
      graft.streaming.Streaming.ewmaStream(spark, in, out, cp)
    }
    bench("bqEncodeStream",
      spark.read.parquet(s"$sfDir/embeddings.parquet"), "vec_id") { (in, out, cp) =>
      graft.streaming.Streaming.bqEncodeStream(spark, in, out, cp)
    }
    println(s"corpus: $nDocs docs, $nEvents events ($sfDir)")
    spark.stop()
  }
}
