package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Exact per-group rank and running sum over (orderCol asc, tieCol asc)
  * without any task ever sorting a whole group — the distributed
  * prefix-sum shape behind quota, budget, and proportional-sample
  * selections (`domain_mix`, `token_budget_mix`, `temperature_mix`,
  * `dsir_resample`), whose single per-group window otherwise ships an
  * entire stratum to one reducer at corpus scale.
  *
  * Shape: rows are RANGE-sharded on the order key — `shard =
  * (orderCol - min) div width` with `width = span div shards + 1`, a
  * monotone bucketing, so shard order IS rank order and no cross-shard
  * interleaving exists. Each (group, shard) computes its local rank and
  * running sum in a window bounded by its own slice; the (group, shard)
  * totals table — at most groups x shards rows — is cumulated in a tiny
  * window and joined back, adding every earlier shard's count and sum.
  * Row-for-row identical to the single per-group window on ANY input
  * (correctness never depends on the key distribution); the per-task
  * sort is group/shards when the order key is ~uniform (the stable-hash
  * rank orders all callers use) and degrades only as far as the key
  * clusters. Cost over the plain window: tiny side aggregates and a
  * shuffle-hash join against a metadata-sized build side, all hanging
  * off ONE data exchange (runtime-reused — see the join-side comment
  * below); at a planted 90%-one-source rehearsal the skewed window's
  * max/p50 task-time ratio drops from 48.6x to 2.5x (BENCHSCALE.md,
  * "Round-9 — the window-skew sweep", planted mega-stratum A/B).
  */
object ShardedPrefix {

  /** Adds `rankName` (long, 1-based) and — when `sumCol` is set —
    * `cumName` (running sum INCLUDING the current row) per `groupCols`
    * group in (orderCol, tieCol) order. `orderCol` must be an integral
    * column; `tieCol` must make the order total within a group.
    *
    * `orderRange`: when the order key's (min, max) is known statically —
    * a uniform hash on [0, P), an id column whose bounds a cheap
    * column-stats scan supplies — pass it and the range bucketing becomes
    * a NARROW projection: no per-group min/max aggregate, which would
    * otherwise re-run the whole upstream pipeline a second time for the
    * bounds. The bounds may be loose (any superset of the true range);
    * looseness only costs shard balance, never correctness. */
  def withRankAndSum(
      df: DataFrame,
      groupCols: Seq[String],
      orderCol: String,
      tieCol: String,
      shards: Int = 32,
      rankName: String = "rank",
      sumCol: Option[String] = None,
      cumName: String = "cum",
      orderRange: Option[(Long, Long)] = None): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(shards > 0, s"shards must be positive, got $shards")
    val g = groupCols.map(col)
    // width = span div shards + 1: overflow-free for any long range and
    // never zero; a group narrower than `shards` just leaves buckets empty
    // a NULL order key buckets to shard -1 — BEFORE every real shard — so
    // null rows rank first within their group, exactly where the single
    // window's nulls-first ascending sort would put them (dropping them,
    // which a null shard key would silently do at the offsets join, is
    // not an option for a documented drop-in replacement)
    val sharded = orderRange match {
      case Some((mn, mx)) =>
        require(mn <= mx, s"orderRange must satisfy min <= max, got ($mn, $mx)")
        require(mx - mn >= 0, "orderRange span must fit in a Long")
        val width = (mx - mn) / shards + 1
        df.withColumn("__shard", expr(
          s"CASE WHEN `$orderCol` IS NULL THEN -1L " +
            s"ELSE (`$orderCol` - ${mn}L) div ${width}L END"))
      case None =>
        val mm = df.groupBy(g: _*)
          .agg(min(col(orderCol)).as("__mn"), max(col(orderCol)).as("__mx"))
        // a span wider than Long (min near Long.MinValue, max near
        // Long.MaxValue) wraps the width arithmetic and would invert the
        // shard order silently — fail loudly instead (the static path's
        // require, enforced per group at runtime)
        //
        // SHUFFLE-hash join, not broadcast: the bounds table has one row
        // PER GROUP, and groups can be crawl domains (10^7+) — a broadcast
        // would ship tens of MB to every executor and can exceed the
        // driver. Both join branches exchange on groupCols over the same
        // df subtree, so Spark's exchange reuse runs the upstream ONCE —
        // the same ReusedExchange argument as the offsets join below (a
        // broadcast build side would additionally re-run the whole
        // upstream pipeline for the bounds, since Catalyst does not share
        // subtrees across a broadcast boundary).
        df.join(mm.hint("shuffle_hash"), groupCols)
          .withColumn("__shard", expr(
            s"CASE WHEN `$orderCol` IS NULL THEN -1L " +
              // try_subtract: under ANSI the raw subtraction would throw
              // ARITHMETIC_OVERFLOW before this guard could name the fix
              "WHEN coalesce(try_subtract(__mx, __mn), -1L) < 0 THEN " +
              "raise_error('ShardedPrefix: order-key span overflows Long; " +
              "pass orderRange or shard on a narrower key') " +
              s"ELSE (`$orderCol` - __mn) div ((__mx - __mn) div $shards + 1) END"))
          .drop("__mn", "__mx")
    }
    val byShard = (g :+ col("__shard"))
    val wL = Window.partitionBy(byShard: _*)
      .orderBy(col(orderCol), col(tieCol))
    val local0 = sharded.withColumn("__lrank", row_number().over(wL).cast(LongType))
    val local = sumCol.fold(local0)(c =>
      local0.withColumn("__lsum", sum(col(c)).over(wL)))
    // shard totals are read OFF the windowed output (max local rank = the
    // shard's row count; the last row's running sum = the shard's total),
    // and the offsets come back through a SHUFFLE-hash join, not a
    // broadcast: both branches then hang off one identical
    // Exchange(group, shard) subtree, which Spark's exchange reuse
    // executes ONCE — a broadcast build side would re-run the whole
    // upstream pipeline (Catalyst does not share subtrees across a
    // broadcast boundary), charging a scored/joined input twice. The
    // build side is groups x shards rows, so the extra exchanges on it
    // are metadata-sized.
    val aggs = Seq(max(col("__lrank")).as("__n")) ++ sumCol.map(_ =>
      max_by(col("__lsum"), struct(col(orderCol), col(tieCol))).as("__t"))
    val wOff = Window.partitionBy(g: _*).orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off0 = local.groupBy(byShard: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("__rankoff", coalesce(sum(col("__n")).over(wOff), lit(0L)))
    val off = sumCol.fold(off0)(_ =>
      off0.withColumn("__sumoff", coalesce(sum(col("__t")).over(wOff), lit(0L))))
    val joined = local.join(off.drop("__n", "__t").hint("shuffle_hash"),
      groupCols :+ "__shard")
    val ranked = joined.withColumn(rankName, col("__rankoff") + col("__lrank"))
    sumCol.fold(ranked)(_ =>
        ranked.withColumn(cumName, col("__sumoff") + col("__lsum")))
      .drop("__shard", "__lrank", "__lsum", "__rankoff", "__sumoff")
  }
}
