package perfbench

import graft.{Oracles, Queries, Tables}
import org.apache.spark.sql.DataFrame

import java.nio.file.Files
import scala.collection.mutable

/** catalog_core: catalog queries (the list comes with the generated
  * inputs) over generated `documents` and `events` tables. One operation
  * is one pass over the queries, each written to a noop sink; a query's
  * score is its fastest warm run. The cold warm-up pass writes each result
  * as parquet instead, next to its oracle SQL, so the checker can compare
  * them in DuckDB. */
object Catalog {

  def run(ctx: Ctx): Unit = {
    val names = ctx.expected("queries").asInstanceOf[Seq[String]]
    val spark = ctx.spark
    val tr = ctx.trace
    val dir = ctx.work.resolve("tables").toString
    ctx.stage(Seq("documents", "events").foreach(t => Tables.load(spark, dir, t).count()))

    val results = ctx.work.resolve("results")
    def pass(sink: (String, DataFrame) => Unit = (_, df) => Pass.noop(df))
        : mutable.LinkedHashMap[String, Any] = {
      val rec = mutable.LinkedHashMap.empty[String, Any]
      names.foreach { q =>
        val t0 = System.nanoTime()
        try {
          tr.span(s"catalog.$q")(sink(q, Queries.all(q)(spark, dir)))
          rec(q) = (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $q failed: $e")
            rec(q) = "error"
        }
      }
      rec
    }

    ctx.warmup(pass((q, df) => df.write.parquet(results.resolve(q).toString)))
    Files.writeString(results.resolve("oracle_sql.json"), Json(names.map(q => q -> Oracles.all(q)).toMap))
    val traced = mutable.ArrayBuffer.empty[Map[String, Double]]
    val (tw, uw) = (mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double])
    // traced runs go untraced, traced, untraced, so the overhead compares
    // a traced operation with its neighbours on both sides
    ctx.measure(minOps = if (ctx.traced) 3 else 2) { i =>
      var times: mutable.LinkedHashMap[String, Any] = null
      if (ctx.traced && i % 2 == 1) {
        val rec = ctx.timed("traced" -> true) {
          val (r, root) = tr.root("catalogpass")(pass())
          times = r
          tr.settle()
          Pass.assertSelfSum(ctx, root)
          traced += Pass.sparkFigures(ctx, root) + ("untraced_s" -> tr.selfS(root))
        }
        tw += rec("wall_s").asInstanceOf[Double]
        rec += ("queries" -> times.toMap)
      } else {
        val rec = ctx.timed("traced" -> false) { times = pass() }
        uw += rec("wall_s").asInstanceOf[Double]
        rec += ("queries" -> times.toMap)
      }
    }
    if (ctx.traced) Pass.summarize(ctx, traced.toSeq, tw.toSeq, uw.toSeq)
  }
}
