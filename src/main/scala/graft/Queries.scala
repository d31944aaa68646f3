package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Psl, Strings, Times, Urls}
import graft.operators.{AsOf, ConnectedComponents, Dedup, Flatten, Intervals, KCore, LabelProp, PageRank, RangeJoin, Sessionize, Triangles}
import graft.dedup.{Incremental, Jaccard, MinHash, SimHash}
import graft.sketch.{HLL, SampleQuantiles}
import graft.similarity.{BQ, IVF, IVFPQ, Outliers, PQ, SemanticDedup, Similarity}
import graft.text.{BPE, ChunkDedup, Hashing, LinearModel, Pii, Repetition, SpanDedup, Text, Unigram}

/** The operator catalog as runnable queries over the driver's testdata
  * tables (TESTDATA.md). Each query has a DuckDB oracle twin in
  * [[graft.Oracles]] — column names, types, and row order match exactly, and
  * every aggregate uses integer-exact arithmetic (cents / basis points /
  * quantized vectors) so result hashes are reproducible across engines and
  * partitionings.
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Stopword set shared with the oracle SQL. */
  val Stopwords: Seq[String] = Seq("the", "a")

  // ---------------------------------------------------------------- TPC-H-ish

  /** Pricing summary (scan + hash aggregate; TPC-H Q1 shape). */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast(LongType)).as("sum_base_cents"),
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast(LongType)).as("sum_disc_cents"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Top-k revenue orders (aggregate + global top-k with deterministic
    * tie-break). */
  def q3TopOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast(LongType)).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("l_orderkey").asc)
      .limit(10)

  /** Star join: orders x customer x nation x region rollup. The two
    * dimension tables are tiny at any scale factor -> broadcast; customer
    * joins via hash exchange (AQE re-plans to broadcast when it fits). */
  def q5RegionJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast(LongType)).as("sum_total_cents"))
      .orderBy(col("r_name"), col("c_mktsegment"))

  /** Selective filter + aggregate (TPC-H Q6 shape): predicates reach the
    * parquet scan as PushedFilters. */
  def q6Forecast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(
        col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01" &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
      .agg(
        sum(round(col("l_extendedprice") * col("l_discount") * 100).cast(LongType))
          .as("revenue_cents"),
        count(lit(1)).as("n_rows"))

  /** EXISTS-correlated aggregate (TPC-H Q4 shape): orders with any line
    * shipped after the order date, counted per priority. */
  def q4OrderPriority(s: SparkSession, dir: String): DataFrame = {
    val late = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    t(s, dir, "orders")
      .join(late,
        col("o_orderkey") === col("l_orderkey") && col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** Fact x broadcast-dimension rollup (TPC-H Q14 shape): revenue by part
    * brand. */
  def q14Brand(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast(LongType)).as("revenue_cents"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("p_brand"))

  /** Min-cost supplier per part (TPC-H Q2 shape): two-level aggregate +
    * ranking window with deterministic tie-break, then a join back to the
    * supplier dimension. */
  def q2MinCostSupp(s: SparkSession, dir: String): DataFrame = {
    // single aggregation instead of groupBy-then-rank: the supplier whose
    // per-(part,supp) minimum wins is exactly the one on the globally
    // cheapest row of the part, so min over (cost, suppkey) structs — with
    // lexicographic struct ordering doing the (cost, then suppkey)
    // tie-break — needs ONE map-side-combined shuffle on l_partkey only
    val best = t(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(min(struct(
        round(col("l_extendedprice") * 100).cast(LongType).as("c"),
        col("l_suppkey").as("k"))).as("m"))
      .select(col("l_partkey"), col("m.c").as("min_cost_cents"), col("m.k").as("l_suppkey"))
    best
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey").as("p_partkey"), col("s_name"), col("min_cost_cents"))
      .orderBy(col("p_partkey"))
  }

  /** Bi-national trade volume (TPC-H Q7 shape): a 5-way join where the two
    * nation legs are broadcast under different aliases; revenue per
    * (supplier nation, customer nation, ship year). */
  def q7NationVolume(s: SparkSession, dir: String): DataFrame = {
    val n1 = broadcast(t(s, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
    val n2 = broadcast(t(s, dir, "nation")
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1998-01-01")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(n1, col("s_nationkey") === col("s_nk"))
      .join(n2, col("c_nationkey") === col("c_nk"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast(LongType).as("l_year"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast(LongType)).as("revenue_cents"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** Product-line profit rollup (TPC-H Q9 shape): LIKE-filtered part
    * dimension, supplier-nation leg, revenue by (nation, ship year). The
    * part filter prunes before the fact join; nation broadcasts. */
  def q9ProductProfit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "part").filter(col("p_name").like("%widget%")),
        col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("l_shipdate")).cast(LongType).as("l_year"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast(LongType)).as("profit_cents"))
      .orderBy(col("n_name"), col("l_year").desc)

  /** Returned-item reporting (TPC-H Q10 shape): selective fact filter, star
    * join, top-20 by revenue with key tie-break. */
  def q10ReturnedTop(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast(LongType)).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("c_custkey"))
      .limit(20)

  /** Customer order-count distribution (TPC-H Q13 shape): left outer join
    * preserved through two stacked aggregates. */
  def q13OrderDist(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count")) // count(col) skips nulls
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** Large-volume orders (TPC-H Q18 shape): HAVING on a fact aggregate,
    * joined back to its dimensions. */
  def q18BigOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast(LongType).as("sum_qty"))
      .filter(col("sum_qty") > 300)
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(
        col("c_custkey"), col("c_name"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast(LongType).as("total_cents"),
        col("sum_qty"))
      .orderBy(col("sum_qty").desc, col("o_orderkey"))

  /** Disjunctive multi-attribute predicate (TPC-H Q19 shape): the OR of
    * brand/size/quantity conjunctions evaluates AFTER the equi-join — one
    * hash join, not three plans unioned. */
  def q19Disjunctive(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#15" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
      .agg(
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast(LongType)).as("revenue_cents"),
        count(lit(1)).as("n_rows"))

  /** Small-quantity-order revenue (TPC-H Q17 shape): lineitems under 20%
    * of their part's average quantity, for a filtered brand. The per-part
    * average is computed AFTER the broadcast semi-restriction to the
    * filtered parts — per-part sums don't change, and the aggregate runs
    * over the narrowed fact instead of the full table. The fractional
    * 0.2*avg compare is cross-multiplied (q*5*cnt < sum) so both engines
    * compare exactly; the yearly average is integer division by 7. */
  def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    val pk = t(s, dir, "part")
      .filter(col("p_brand") === "Brand#23" && col("p_size") <= 5)
      .select(col("p_partkey"))
    val lp = t(s, dir, "lineitem")
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
    val avgq = lp.groupBy(col("l_partkey").as("a_partkey"))
      .agg(sum(col("l_quantity")).as("sum_q"), count(lit(1)).as("cnt_q"))
    lp.join(avgq, col("l_partkey") === col("a_partkey"))
      .filter(col("l_quantity") * 5 * col("cnt_q") < col("sum_q"))
      .agg(
        coalesce(sum(round(col("l_extendedprice") * 100).cast(LongType)), lit(0L))
          .as("total_cents"),
        count(lit(1)).as("n_rows"))
      .select(expr("total_cents div 7").as("avg_yearly_cents"), col("n_rows"))
  }

  /** Top supplier by windowed revenue (TPC-H Q15 shape): aggregate, take
    * the scalar max of the aggregate (broadcast), keep the suppliers that
    * attain it — ties all surface, deterministically ordered. */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1996-07-01")
      .groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast(LongType)).as("revenue_cents"))
    rev.crossJoin(broadcast(rev.agg(max(col("revenue_cents")).as("__max"))))
      .filter(col("revenue_cents") === col("__max"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("revenue_cents"))
      .orderBy(col("s_suppkey"))
  }

  /** Conditional aggregation (TPC-H Q12 shape): high- vs low-priority
    * order counts among late-shipped lines, one pass, no second scan. */
  def q12PriorityBuckets(s: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  /** Rich-but-inactive customers (TPC-H Q22 shape): scalar aggregate
    * subquery + anti join, with the above-average test done in exact
    * integer cross-multiplication (cents*count > total_cents) so both
    * engines agree on boundary values. */
  def q22RichInactive(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .withColumn("bal_cents", round(col("c_acctbal") * 100).cast(LongType))
    val avgRow = broadcast(
      cust.agg(sum(col("bal_cents")).as("total_cents"), count(lit(1)).as("n_cust")))
    val big = t(s, dir, "orders")
      .filter(col("o_totalprice") > 150000).select(col("o_custkey"))
    cust.crossJoin(avgRow)
      .filter(col("bal_cents") * col("n_cust") > col("total_cents"))
      .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_custs"), sum(col("bal_cents")).as("sum_bal_cents"))
      .orderBy(col("c_nationkey"))
  }

  /** National market share (TPC-H Q8 shape): a seven-table star flattened
    * into three broadcast legs plus one fact-fact join (lineitem x orders).
    * The share ratio is emitted as exact integer numerator/denominator plus
    * `nation_cents * 10000 div total_cents` basis points, never a float. */
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val promoParts = t(s, dir, "part")
      .filter(col("p_type") === "PROMO").select(col("p_partkey"))
    val suppNation = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val asiaCust = t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(
        broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val asiaOrders = t(s, dir, "orders")
      .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), year(col("o_orderdate")).cast(LongType).as("o_year"))
    val isNation = col("supp_nation") === "NATION_3"
    t(s, dir, "lineitem")
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(asiaOrders, col("l_orderkey") === col("o_orderkey"))
      .withColumn("cents",
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast(LongType))
      .groupBy(col("o_year"))
      .agg(
        sum(when(isNation, col("cents")).otherwise(0L)).as("nation_cents"),
        sum(col("cents")).as("total_cents"))
      .select(
        col("o_year"), col("nation_cents"), col("total_cents"),
        expr("nation_cents * 10000 div total_cents").as("share_bp"))
      .orderBy(col("o_year"))
  }

  /** Important parts by supplied value (TPC-H Q11 shape): per-part value
    * restricted to one nation's suppliers, kept when it exceeds 1/1000 of
    * the national total. The scalar-subquery threshold is a 1-row broadcast
    * over the same aggregate child, so the exchange is planned once and
    * reused; the fraction compare is integer cross-multiplication. */
  def q11ImportantParts(s: SparkSession, dir: String): DataFrame = {
    val nationSupp = t(s, dir, "supplier")
      .join(
        broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_7")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val value = t(s, dir, "lineitem")
      .join(broadcast(nationSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast(LongType)).as("value_cents"))
    value
      .crossJoin(broadcast(value.agg(sum(col("value_cents")).as("total_cents"))))
      .filter(col("value_cents") * 1000 > col("total_cents"))
      .select(col("l_partkey"), col("value_cents"))
      .orderBy(col("value_cents").desc, col("l_partkey"))
  }

  /** Supplier count by part attributes (TPC-H Q16 shape): the part
    * restriction broadcasts BEFORE the (partkey, suppkey) distinct so the
    * dedup exchange carries only qualifying lines, the excluded-supplier
    * NOT IN is a broadcast anti join, and the final rollup is a
    * count-distinct over the pre-deduped pairs. */
  def q16SupplierCnt(s: SparkSession, dir: String): DataFrame = {
    val parts = t(s, dir, "part")
      .filter(
        col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val badSupp = t(s, dir, "supplier")
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** Excess-share suppliers (TPC-H Q20 shape): nested semi-join chain —
    * suppliers whose 1996 shipments of 'small *' parts exceed half their
    * all-time shipments of that part (2*qty_1996 > qty_total, exact
    * integers), restricted to one region. The inner aggregate computes both
    * windows in ONE pass over the part-restricted fact. */
  def q20ExcessSuppliers(s: SparkSession, dir: String): DataFrame = {
    val smallParts = t(s, dir, "part")
      .filter(col("p_name").startsWith("small")).select(col("p_partkey"))
    val in1996 =
      col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01"
    val excess = t(s, dir, "lineitem")
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(
        sum(when(in1996, col("l_quantity")).otherwise(0d)).cast(LongType).as("qty_1996"),
        sum(col("l_quantity")).cast(LongType).as("qty_total"))
      .filter(col("qty_1996") * 2 > col("qty_total"))
      .select(col("l_suppkey"))
    t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(
        broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  /** Suppliers who kept orders waiting (TPC-H Q21 shape). The classic
    * double-correlated EXISTS / NOT EXISTS over the fact is rewritten
    * without any fact self-join OR count-distinct Expand: one partial-agg'd
    * shuffle collapses the lines to (order, supplier, n_late_lines), a
    * single window pass over each order derives the supplier count and the
    * late-supplier count, and a late supplier's lines count iff the order
    * has another supplier (n_supp >= 2) and no OTHER late supplier
    * (n_late_supp == 1). "Late" = shipped more than 30 days after the
    * order date. */
  def q21WaitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS")
    // partition on l_orderkey ALONE: hash(ok) satisfies the (ok, sk)
    // aggregate's clustering AND the order window's, so one exchange feeds
    // both stages instead of one each
    val perSupp = t(s, dir, "lineitem")
      .join(
        t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(when(late, 1L).otherwise(0L)).as("n_late_lines"))
    val byOrder = Window.partitionBy(col("l_orderkey"))
    val asiaSupp = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(
        broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"))
    perSupp
      .withColumn("n_supp", count(lit(1)).over(byOrder))
      .withColumn("n_late_supp",
        sum(when(col("n_late_lines") > 0, 1L).otherwise(0L)).over(byOrder))
      .filter(col("n_late_lines") > 0 && col("n_supp") >= 2 && col("n_late_supp") === 1)
      .join(broadcast(asiaSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("n_late_lines")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** ROLLUP grouping sets over the Q1 aggregate, with the grouping id made
    * explicit and null group labels coalesced to 'ALL'. */
  def q1Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast(LongType).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        grouping_id().cast(LongType).as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_rows"), col("gid"))
      .orderBy(col("gid"), col("returnflag"), col("linestatus"))

  /** Pivot: one column per event type, one row per user — the wide-format
    * reshape (explicit value list, so the plan needs no discovery pass). */
  def pivotEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy(col("user_id"))

  /** Unpivot (melt): lineitem quantity/price/discount columns to long
    * format — the inverse reshape, built-in since Spark 3.4. */
  def unpivotLineitem(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") <= 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))

  /** Sketch aggregates — the mergeable, bounded-memory scale path for
    * cardinality and quantiles (HLL++ and a quantile summary; both
    * partial-aggregate cleanly across any partitioning). No DuckDB oracle:
    * sketch layouts are engine-specific, so the driver records the weaker
    * rows-only check — the exact twins (count_distinct in timestamp_sets,
    * percentile in median_order_cents) carry the hash-checked semantics. */
  /** Approximate sketches with a REAL pass/fail signal: the output carries
    * the exact aggregates plus booleans asserting the sketch landed inside
    * its error bound — HLL++ at rsd 0.05 within 3*rsd of the exact distinct
    * count, KLL-style approx median (rank error <= 1/accuracy = 0.001)
    * between the exact 0.45/0.55 quantiles. The DuckDB oracle computes the
    * same exact values with literal TRUE flags, so the hash compare fails
    * iff a sketch ever leaves its bound — deterministic, since both
    * sketches are order-independent over a fixed dataset. */
  def sketchEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.05).as("__hll"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("__amed"),
        expr("percentile(value, 0.45)").as("__lo"),
        expr("percentile(value, 0.55)").as("__hi"),
        count(lit(1)).as("n"))
      .select(
        col("event_type"), col("exact_users"), col("n"),
        // coalesce: an all-null group has NULL percentiles/sketches, which
        // is vacuously "within tolerance" (and the compare must see TRUE,
        // never NULL — driver null-hash behavior is unverified)
        coalesce(abs(col("__hll") - col("exact_users")).cast(DoubleType) <=
          col("exact_users").cast(DoubleType) * 0.15, lit(true)).as("hll_within_tol"),
        coalesce(col("__amed") >= col("__lo") && col("__amed") <= col("__hi"), lit(true))
          .as("median_within_tol"))
      .orderBy(col("event_type"))

  /** CUBE grouping sets over the event stream: all four aggregation levels
    * of (event_type, hour-bin) in one pass, grouping id explicit, null
    * labels coalesced for engine-portable hashing. */
  def cubeEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"), Times.timeBin(col("ts")).as("bin"), col("value"))
      .cube(col("event_type"), col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast(LongType)).as("sum_value_cents"),
        grouping_id().cast(LongType).as("gid"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("bin"), lit("ALL")).as("bin"),
        col("n"), col("sum_value_cents"), col("gid"))
      .orderBy(col("gid"), col("event_type"), col("bin"))

  /** Running revenue per customer (frame-bounded window aggregate). */
  def runningRevenue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .select(
        col("o_orderkey"), col("o_custkey"),
        sum(round(col("o_totalprice") * 100).cast(LongType)).over(w)
          .as("running_cents"))
      .orderBy(col("o_orderkey"))
  }

  /** Per-user EWMA of event values — the sequential-fold aggregate: with
    * half-life decay (alpha = 1/2) the recurrence e' = (e + x) div 2 stays
    * in exact integer cents, so any engine replays the fold bit-for-bit
    * (values are non-negative, so truncating div == floor). The fold runs
    * over `aggregate()` on the per-user event list sorted by event id —
    * per-key sequential dependency is inherent to EWMA, and the list is
    * bounded by per-user activity (session-scale), never the corpus; at
    * 100 TB the alpha = 1/2 memory horizon (~40 events to underflow)
    * bounds how much history even MATTERS, so a production run folds only
    * each user's recent tail. One shuffle: the per-user collect. */
  def userEwma(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast(LongType).as("cents"))
      .groupBy(col("user_id"))
      .agg(
        sort_array(collect_list(struct(col("event_id"), col("cents")))).as("xs"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"),
        expr("aggregate(transform(xs, x -> x.cents), 0L, (acc, x) -> (acc + x) div 2)")
          .as("ewma_cents"))
      .orderBy(col("user_id"))

  /** Exact median (sort-based percentile aggregate) of order value per
    * priority — integer cents in, so the linear interpolation lands on .0
    * or .5 doubles that hash identically across engines. */
  def medianOrderCents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        percentile(round(col("o_totalprice") * 100).cast(LongType), lit(0.5))
          .as("median_cents"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))

  /** Left-semi join (EXISTS): customers having a big order. */
  def semiJoinBigSpenders(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "orders").filter(col("o_totalprice") > 100000)
    t(s, dir, "customer")
      .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  // ------------------------------------------------- reference operators (§2)

  /** F2/W1 — hourly tumbling-window binning with the reference's
    * yyyyMMdd_HH'00' label. */
  def timeBinHourly(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(
        Times.timeBin(col("ts")).as("bin"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast(LongType)).as("sum_value_cents"))
      .orderBy(col("bin"), col("event_type"))

  /** D1 — keep-LAST per key in original order (key = user_id, event_type;
    * order = event_id). */
  def dedupKeepLast(s: SparkSession, dir: String): DataFrame =
    Dedup.keepLast(
      t(s, dir, "events").select("event_id", "user_id", "event_type", "value"),
      Seq("user_id", "event_type"), "event_id")
      .orderBy(col("event_id"))

  /** D2 — keep-FIRST whole-row distinct in original order. */
  def dedupKeepFirst(s: SparkSession, dir: String): DataFrame =
    Dedup.keepFirstDistinct(
      t(s, dir, "events").select("event_id", "user_id", "event_type", "value"),
      "event_id")
      .orderBy(col("event_id"))

  /** Exact dedup groups over document text (hash-groupBy). */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(s, dir, "documents"), Seq("text"), "doc_id")
      .select("keep_id", "n_dups")
      .orderBy(col("keep_id"))

  /** A1 — gaps-and-islands: coalesce each user's event_ids into disjoint
    * consecutive ranges. */
  def intervalsIslands(s: SparkSession, dir: String): DataFrame =
    Intervals.toRanges(t(s, dir, "events"), Seq("user_id"), "event_id")
      .orderBy(col("user_id"), col("range_from"))

  /** J1/J2/P6/P7 — anti-join of records against processed offset ranges
    * (ranges derived from each user's 'view' span; broadcast
    * nested-loop anti-join on the tiny build side). */
  def antiJoinUnseen(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
    val seen = events.filter(col("event_type") === "view")
      .groupBy(col("user_id"))
      .agg(min(col("event_id")).as("range_from"), max(col("event_id")).as("range_to"))
    Intervals.unseen(events, seen, Seq("user_id"), "event_id")
      .select("event_id", "user_id", "event_type")
      .orderBy(col("event_id"))
  }

  /** P10 — ID sanitization with default substitution. */
  def sanitizeIds(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(
        col("event_id"),
        Strings.sanitizeId(col("props"), "unknown").as("clean_props"))
      .orderBy(col("event_id"))

  /** F6 — filename-metadata extraction: build sink filenames from event
    * columns, parse (topic, partition, offset) back out. */
  def filenameMeta(s: SparkSession, dir: String): DataFrame = {
    val fname = concat(
      col("event_type"), lit("+"),
      (col("user_id") % 4).cast(StringType), lit("+"),
      lpad((col("event_id") * 1000 + 37).cast(StringType), 10, "0"),
      lit(".avro"))
    t(s, dir, "events")
      .select(col("event_id"), fname.as("fname"))
      .select(
        col("event_id"),
        Strings.filenameTopic(col("fname")).as("topic"),
        Strings.filenamePartition(col("fname")).as("partition"),
        Strings.filenameStartOffset(col("fname")).as("start_offset"))
      .orderBy(col("event_id"))
  }

  /** P2 — flatten of a semi-structured column (JSON props -> typed column). */
  def jsonFlatten(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("props_k"))
      .orderBy(col("event_id"))

  /** F8 — unpadded base64 of a binary value. */
  def base64Unpadded(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        Strings.base64Unpadded(substring(col("text"), 1, 32).cast(BinaryType))
          .as("b64"))
      .orderBy(col("doc_id"))

  /** P2 — recursive struct flatten with dotted column names (built from a
    * nested projection of events, flattened by the library operator). */
  def flattenNested(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "events").select(
      col("event_id"),
      struct(col("user_id"), col("event_type")).as("k"),
      struct(col("value"), col("props")).as("v"))
    Flatten.flatten(d).orderBy(col("event_id"))
  }

  /** F1 — schema-gated event-time cascade: value.time (synthetic, nulled for
    * every third record) falls back to value.timeReceived; exact integer
    * seconds so the bin label is engine-independent. */
  def timeCascade(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "events").select(
      col("event_id"),
      struct(
        when(col("event_id") % 3 === 0, lit(null).cast(DoubleType))
          .otherwise((col("event_id") * 97).cast(DoubleType)).as("time"),
        (col("event_id") * 97 + 3600).cast(DoubleType).as("timeReceived"))
        .as("value"))
    base
      .select(
        col("event_id"),
        Times.timeBin(Times.eventTime(base)).as("bin"))
      .orderBy(col("event_id"))
  }

  /** D1 ignoreFields variant — key = all columns minus ignored minus order:
    * keeps the last event per event_type. */
  def dedupIgnoreFields(s: SparkSession, dir: String): DataFrame =
    Dedup.keepLastIgnoring(
      t(s, dir, "events").select("event_id", "user_id", "event_type"),
      Seq("user_id"), "event_id")
      .orderBy(col("event_id"))

  /** J3/A5 — extraction check as a semi-join: records whose (user, hour-bin)
    * appears in the 'view' events' distinct time set. */
  def extractionSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
    val seen = events.filter(col("event_type") === "view")
      .select(col("user_id"), Times.timeBin(col("ts")).as("bin"))
      .distinct()
    events
      .select(col("event_id"), col("user_id"), Times.timeBin(col("ts")).as("bin"))
      .join(seen, Seq("user_id", "bin"), "left_semi")
      .select("event_id", "user_id", "bin")
      .orderBy(col("event_id"))
  }

  /** O1 — per-group limit: first 3 events of every user (maxFilesPerTopic
    * shape: bounded take per group, not a global limit). */
  def limitPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .orderBy(col("event_id"))
  }

  /** F7 — per-partition offset assignment: kafkaOffset = startOffset + row
    * index within the partition, in stable (event_id) order. */
  def offsetAssign(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"))
      .withColumn("offset",
        (row_number().over(w).cast(LongType) - 1) + col("user_id") * 1000000)
      .orderBy(col("event_id"))
  }

  /** A5 — distinct timestamp set per output bin (cardinality form: the
    * membership set the cleaner checks against). */
  def timestampSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), Times.timeBin(col("ts")).as("bin"))
      .agg(count_distinct(col("ts")).as("n_times"))
      .orderBy(col("user_id"), col("bin"))

  /** As-of join: each purchase event matched to the user's most recent
    * preceding (or simultaneous) click — union-merge formulation, no range
    * join. Right side deduped to one row per (user, ts) for determinism. */
  // sentinel instead of null for the no-matching-click case in all three
  // directions: result hashes must not depend on engine null encodings
  def asofJoin(s: SparkSession, dir: String): DataFrame =
    asofDirectional(s, dir, "backward")

  /** Forward as-of: each purchase matched to the FIRST click at-or-after
    * it per user (the "next event" direction of merge_asof) — same
    * union-merge plan as asof_join, the carry just runs over the
    * following frame. */
  def asofForward(s: SparkSession, dir: String): DataFrame =
    asofDirectional(s, dir, "forward")

  /** Nearest as-of: whichever click is closer in time, ties to the
    * backward match — both carries resolved in ONE union-merge pass. */
  def asofNearest(s: SparkSession, dir: String): DataFrame =
    asofDirectional(s, dir, "nearest")

  private def asofDirectional(s: SparkSession, dir: String, direction: String): DataFrame = {
    val events = t(s, dir, "events")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val clicksW = Window.partitionBy(col("user_id"), col("ts"))
      .orderBy(col("event_id").desc)
    val clicks = events.filter(col("event_type") === "click")
      .withColumn("__rn", row_number().over(clicksW)).filter(col("__rn") === 1)
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_id"), col("value").as("click_value"))
    AsOf.joinAsOf(purchases, clicks, Seq("user_id"), "ts", "ts",
        direction = direction)
      .select(col("event_id"), col("user_id"), col("value"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(col("click_value"), lit(-1d)).as("click_value"))
      .orderBy(col("event_id"))
  }

  /** Sessionization: per-user sessions split at >30-minute quiet gaps,
    * with exact epoch-micros bounds. */
  def sessionize(s: SparkSession, dir: String): DataFrame =
    Sessionize.sessions(
      t(s, dir, "events"), Seq("user_id"), "ts", "event_id", gapSeconds = 1800L)
      .orderBy(col("user_id"), col("session_id"))

  // ------------------------------------------------------ text analysis pack

  def textTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        Text.tokenCount(col("text")).cast(LongType).as("n_tokens"),
        col("n_chars"))
      .orderBy(col("doc_id"))

  def bpeTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        Text.bpeTokenCount(col("text")).cast(LongType).as("n_bpe"))
      .orderBy(col("doc_id"))

  /** BPE tokenizer training, step one: frequency-weighted adjacent
    * character-pair counts over the corpus vocabulary — the merge-candidate
    * table a byte-pair-encoding trainer ranks to pick its first merges.
    * Scale shape: pair counting runs over the VOCABULARY (one row per
    * distinct word with its frequency), not the corpus, so the explode is
    * bounded by vocab size x mean word length; the pair-count table
    * map-side-combines to at most alphabet^2 rows before the top-k, and
    * the global rank window sees only that tiny table. Deterministic
    * tie-break (count desc, pair asc) keeps the cut identical on any
    * engine. */
  def bpeMergePairs(s: SparkSession, dir: String): DataFrame = {
    val vocab = t(s, dir, "documents")
      .select(explode(Text.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "") // empty words: see BPE.encode's oracle-parity note
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    vocab
      .withColumn("p", explode(when(length(col("w")) >= 2,
        expr("transform(sequence(1, length(w)-1), i -> substring(w, i, 2))"))
        .otherwise(array().cast("array<string>"))))
      .groupBy(col("p")).agg(sum(col("freq")).as("cnt"))
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("cnt").desc, col("p").asc)).cast(LongType))
      .filter(col("rank") <= 32)
      .select(col("rank"), col("p").as("pair"), col("cnt"))
      .orderBy(col("rank"))
  }

  /** BPE tokenizer training, the real loop ([[graft.text.BPE]]): 3 greedy
    * merge rounds over the corpus vocabulary — count weighted adjacent
    * symbol pairs, take the argmax (ties to the smallest pair), apply the
    * merge left-to-right, repeat on the updated symbols. Output is the
    * learned merge table in training order. The DuckDB twin replays the
    * rounds with marker-bracketed strings and non-overlapping replace()
    * (same greedy semantics, no lambda-capture hazard). */
  def bpeTrainMerges(s: SparkSession, dir: String): DataFrame = {
    val vocab = t(s, dir, "documents")
      .select(explode(Text.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "") // empty words: see BPE.encode's oracle-parity note
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    BPE.trainMerges(vocab, "w", "freq", steps = 3).orderBy(col("step"))
  }

  /** The corpus merge table (the bpe_train_merges loop), collected
    * driver-side for the encode-consuming entries. Memoized per
    * (dir, steps): training is deterministic for a given corpus, and
    * three catalog entries consume the same table — a real deployment
    * trains once and ships the table exactly like this. STALENESS
    * assumption: the data under `dir` is immutable for the JVM's
    * lifetime (true for the bench/verify harness's read-only testdata);
    * a harness that rewrites a dir in-process must clear [[mergeCache]]
    * or key by a content fingerprint. */
  private val mergeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Seq[BPE.Merge]]()
  private def trainedMerges(s: SparkSession, dir: String, steps: Int = 3): Seq[BPE.Merge] =
    mergeCache.computeIfAbsent((dir, steps), { _ =>
      val vocab = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("w"))
        .filter(col("w") =!= "") // empty words: see BPE.encode's oracle-parity note
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      BPE.collectMerges(BPE.trainMerges(vocab, "w", "freq", steps))
    })

  /** BPE ENCODING with the trained merge table — the consumer the
    * trainer exists for: every document becomes its token-id sequence
    * (ids: single chars by code point, merged symbols 255 + first
    * training step). [[graft.text.BPE.encode]] runs the greedy fold once
    * per DISTINCT word and joins the corpus back on the word key; the
    * id map is a plan literal (`try_element_at` — no join, no UDF), and
    * per-doc assembly is the same sort-structs-then-join device as
    * pack_manifest's segments. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val merges = trainedMerges(s, dir)
    val idMap = merges.groupBy(_.merged).map { case (m, ms) =>
      m -> (255 + ms.map(_.step).min)
    }
    val enc = BPE.encode(t(s, dir, "documents"), "doc_id", "text", merges)
    // ids stay packed as one array per WORD through the doc-keyed
    // exchange (the only corpus-sized shuffle here): ~4x fewer rows than
    // exploding to token granularity, same bytes — measured 23.8 -> 9.8 s
    // at the 100x corpus (BenchMed warm min). Intra-word order rides the array, word order
    // the (wpos) sort; flatten reassembles the exact token sequence.
    enc.select(col("doc_id"), col("wpos"),
        transform(col("syms"), sym =>
          coalesce(try_element_at(typedlit(idMap), sym), ascii(sym))).as("ids"))
      .groupBy(col("doc_id"))
      .agg(sum(size(col("ids"))).cast(LongType).as("n_bpe"),
        array_join(flatten(transform(
          array_sort(collect_list(struct(col("wpos"), col("ids")))),
          x => transform(x.getField("ids"), i => i.cast(StringType)))),
          ",").as("token_ids"))
      .orderBy(col("doc_id"))
  }

  /** Unigram-LM tokenizer training ([[graft.text.Unigram]]) — the
    * SentencePiece-style counterpart to [[bpeTrainMerges]]: seed a
    * candidate inventory (every character plus the top-48 most frequent
    * 2..4-char substrings of the vocabulary), then 2 hard-EM rounds of
    * greedy minimal-bits segmentation and usage recount, everything in
    * integer bit costs so the DuckDB twin replays the final piece table
    * bit for bit (the segmentation runs as a recursive CTE with a
    * LATERAL arg-min). Output: (piece, n_uses, cost_bits). */
  def unigramLmTrain(s: SparkSession, dir: String): DataFrame = {
    val vocab = t(s, dir, "documents")
      .select(explode(Text.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "") // empty words: see BPE.encode's oracle-parity note
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    Unigram.train(vocab, "w", "freq").orderBy(col("piece"))
  }

  /** The trained unigram piece table, memoized per dir for the encode
    * consumer — same staleness contract as [[mergeCache]]. */
  private val pieceCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Unigram.Piece]]()
  private def trainedPieces(s: SparkSession, dir: String): Seq[Unigram.Piece] =
    pieceCache.computeIfAbsent(dir, { _ =>
      Unigram.collectPieces(unigramLmTrain(s, dir))
    })

  /** Unigram encoding with the trained piece table — the consumer the
    * trainer exists for: per-document piece count and total bit cost.
    * [[graft.text.Unigram.encode]] segments once per DISTINCT word and
    * joins the corpus back on the word key (the bpe_encode device);
    * blank docs keep an n_pieces=0 row. */
  def unigramEncode(s: SparkSession, dir: String): DataFrame =
    Unigram.encode(t(s, dir, "documents"), "doc_id", "text", trainedPieces(s, dir))
      .orderBy(col("doc_id"))

  /** Gopher-style repetition signals ([[graft.text.Repetition]]): the
    * top-bigram character fraction and the duplicate-5-gram coverage
    * fraction, both integer-exact basis points. Gram keys built
    * row-locally; all exchanges doc-keyed; argmax by min_by, not a
    * window. */
  def repetitionSignals(s: SparkSession, dir: String): DataFrame =
    Repetition.signals(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** PII scrubbing ([[graft.text.Pii]]): synthetic identifiers (an
    * email, a phone, an IP derived from doc_id/source — the documents
    * table carries none, same injection device as text_clean's web
    * noise) are planted around each text, then detected, counted, and
    * replaced with typed placeholders; `n_residual` re-counts on the
    * scrubbed text and must be zero. One codegen'd projection. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val noisy = concat(
      lit("contact "), col("source"), lit(".user@mail.example.com "),
      col("text"),
      lit(" call 555-"), (d % 9000 + 1000).cast(StringType),
      lit(" from 10."), (d % 256).cast(StringType),
      lit("."), (d * 7 % 256).cast(StringType),
      lit("."), (d * 11 % 256).cast(StringType), lit(" end"))
    val scrubbed = Pii.scrub(noisy)
    t(s, dir, "documents")
      .select(d,
        Pii.countEmails(noisy).cast(LongType).as("n_emails"),
        Pii.countIps(noisy).cast(LongType).as("n_ips"),
        Pii.countPhones(noisy).cast(LongType).as("n_phones"),
        (Pii.countEmails(scrubbed) + Pii.countIps(scrubbed) +
          Pii.countPhones(scrubbed)).cast(LongType).as("n_residual"),
        length(scrubbed).cast(LongType).as("scrubbed_len"),
        substring(scrubbed, 1, 48).as("scrubbed_head"))
      .orderBy(d)
  }

  def textQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        Text.tokenCount(col("text")).cast(LongType).as("n_tokens"),
        Text.stopwordCount(col("text"), Stopwords).cast(LongType).as("n_stop"),
        Text.stopRatioBp(col("text"), Stopwords).as("stop_ratio_bp"),
        Text.meanTokenLenBp(col("text")).as("mean_token_len_bp"))
      .orderBy(col("doc_id"))

  def langId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        col("lang"),
        Text.langIdHeuristic(col("text")).as("pred_lang"))
      .orderBy(col("doc_id"))

  def fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        call_function("graft_fingerprint", col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Cleanup pipeline: inject synthetic web noise (tags + a URL) around the
    * document text, then strip -> normalize -> truncate, counting tokens
    * before and after. Exercises the whole cleanup pack on every row. */
  def textClean(s: SparkSession, dir: String): DataFrame = {
    val noisy = concat(
      lit("<p class=\"x\">"), col("text"),
      lit("</p> <a>see</a> https://example.com/doc/"), col("doc_id"), lit(" end"))
    val clean = Text.normalizeWs(Text.stripUrls(Text.stripHtml(noisy)))
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        Text.tokenCount(clean).cast(LongType).as("n_clean_tokens"),
        Text.truncateTokens(clean, 8).as("head8"))
      .orderBy(col("doc_id"))
  }

  /** The full composed curation pipeline (graft.pipelines.CorpusPipeline):
    * cleanup -> annotate -> quality gates -> exact dedup -> minhash
    * near-dedup -> deterministic split, hash-checked stage for stage
    * against the SQL mirror of the whole chain. */
  def corpusCurate(s: SparkSession, dir: String): DataFrame =
    graft.pipelines.CorpusPipeline.curate(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** The full curation pipeline with the position-level span-dedup stage
    * enabled (`--span-grams 4` on the CLI): repeated >= 4-token spans
    * excised corpus-wide after doc-level dedup, n_tokens re-counted over
    * the survivors, minTokens re-gated. The short anchor makes this the
    * boilerplate-clause excision setting — 1,348 positions across 211 of
    * 476 surviving docs are live at sf0.01, so the oracle pins real
    * excision work, not an identity pass. Doc-level near-dedup is DISABLED
    * in this configuration (threshold above the 10000bp ceiling):
    * near-identical docs stay, and the span stage removes their shared
    * passages instead of dropping whole documents — the "trim, don't
    * drop" recipe that preserves each copy's unique tail. The DuckDB
    * oracle splices the span CTEs between the (empty) near-dedup
    * finisher and the split. */
  def corpusCurateSpan(s: SparkSession, dir: String): DataFrame =
    graft.pipelines.CorpusPipeline.curate(t(s, dir, "documents"), "doc_id", "text",
        graft.pipelines.CorpusPipeline.Config(
          nearDupMinBp = 10001L, spanDedupGrams = Some(4)))
      .orderBy(col("doc_id"))

  /** The same end-to-end curation but with the keep-best-in-cluster
    * finisher (`--keep-best` on the CLI): each near-dup component keeps its
    * highest quality-ensemble scorer instead of its smallest id. Same
    * shuffle story as corpus_curate plus one bounded score join on the
    * pair-graph slice; the DuckDB oracle swaps only the dropped-CTE. */
  def corpusCurateBest(s: SparkSession, dir: String): DataFrame =
    graft.pipelines.CorpusPipeline.curate(t(s, dir, "documents"), "doc_id", "text",
      graft.pipelines.CorpusPipeline.Config(keepBestInCluster = true))
      .orderBy(col("doc_id"))

  /** Deterministic train/val/test assignment: hash-bucket each document id
    * with the shared integer hash so the split is stable across runs,
    * engines, and partitionings (the property a training pipeline needs —
    * rand()-based sampling is none of those). 80/10/10 by bucket. */
  def stableSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = (col("doc_id") % Hashing.P * Hashing.TokenHashA) % Hashing.P % 100
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("split"))
  }

  /** Benchmark decontamination: every training document is scored by how
    * many of its distinct 3-word shingles also occur anywhere in the held-out
    * eval corpus (here: `source = 'src0'`). This is the standard n-gram
    * overlap check run before training so eval answers don't leak into the
    * corpus. The eval shingle set is deduped and broadcast — eval benchmarks
    * are tiny next to a 100 TB training corpus, so the train side streams
    * map-side with no shuffle of the fact table for the membership probe;
    * the only exchanges are the two per-doc count aggregates. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(array_distinct(call_function("graft_shingles", col("text")))).as("x"))
    val evalSh = sh.filter(col("source") === "src0").select(col("x")).distinct()
    val train = sh.filter(col("source") =!= "src0").select(col("doc_id"), col("x"))
    // left join against the broadcast eval set with a hit flag, so ONE
    // aggregate (and one pass over the interpreted shingle explode) yields
    // both the set size and the overlap count
    train
      .join(broadcast(evalSh.withColumn("__hit", lit(1L))), Seq("x"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_sh"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
      .withColumn("overlap_bp", expr("n_overlap * 10000 div greatest(n_sh, 1)"))
      .withColumn("contaminated", col("overlap_bp") >= 2000)
      .orderBy(col("doc_id"))
  }

  /** Domain mixing by exact quota: each source gets a target sampling rate
    * (the mixing weights a training run assigns per domain), the quota is the
    * exact integer share of that domain's row count, and membership is the
    * hash-ranked prefix — deterministic across runs, engines, and
    * partitionings, unlike rand()-based sampling. The rank comes from
    * [[graft.operators.ShardedPrefix]] — range-sharded on the uniform hash
    * key, so a mega-domain sorts in stratum/shards slices instead of one
    * task — and the count from a partial-combining aggregate; the exact
    * quota survives at 100 TB without falling back to the approximate
    * rate-threshold form (hash % 10000 < rate_bp). */
  def domainMix(s: SparkSession, dir: String): DataFrame = {
    val rateBp = when(col("source").isin("src0", "src1"), 10000L)
      .when(col("source").isin("src2", "src3"), 5000L)
      .otherwise(2500L)
    val h = (col("doc_id") % Hashing.P * Hashing.TokenHashA) % Hashing.P
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), rateBp.as("rate_bp"), h.as("h"))
    // exact per-source rank WITHOUT a whole-stratum sort: the hash-rank
    // order key is uniform on [0, P), so the range-sharded prefix rank
    // bounds every task at stratum/shards; n_docs likewise comes from a
    // partial-combining aggregate, not an unordered count window that
    // would buffer each stratum in one task
    val nDocs = base.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    graft.operators.ShardedPrefix
      .withRankAndSum(base, Seq("source"), "h", "doc_id",
        rankName = "sample_rank", orderRange = Some((0L, Hashing.P - 1)))
      .join(broadcast(nDocs), "source")
      .filter(col("sample_rank") <=
        greatest(lit(1L), expr("n_docs * rate_bp div 10000")))
      .select(col("doc_id"), col("source"), col("sample_rank"))
      .orderBy(col("source"), col("sample_rank"))
  }

  /** Corpus health report: per (source, lang) document counts, exact token
    * and char totals, distinct-fingerprint count, and the implied duplicate
    * rate in basis points — the summary table a curation run prints before
    * and after dedup. One scan, one hash aggregate; the count-distinct is
    * per-group over the rolling-hash fingerprint. */
  def corpusReport(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"), col("lang"), col("n_chars"),
        Text.tokenCount(col("text")).cast(LongType).as("n_tokens"),
        call_function("graft_fingerprint", col("text")).as("fp"))
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        count_distinct(col("fp")).as("n_unique"),
        max(col("n_tokens")).as("max_tokens"))
      .withColumn("dup_bp", expr("(n_docs - n_unique) * 10000 div n_docs"))
      .orderBy(col("source"), col("lang"))

  /** Boilerplate detection: the shingles shared by the most documents
    * (navigation chrome, license headers, cookie banners — the n-grams a
    * curation run strips or caps). Distinct-per-doc explode, then one hash
    * aggregate and a deterministic top-50; at scale the aggregate is
    * partial-agg'd map-side and the top-k is a TakeOrdered, so nothing
    * quadratic ever materializes. */
  def boilerplateNgrams(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(call_function("graft_shingles", col("text")))).as("x"))
      .groupBy(col("x"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 3)
      .orderBy(col("df").desc, col("x"))
      .limit(50)

  /** Token-length histogram per language: fixed-width 64-token buckets,
    * exact integer bucket edges (no float log-scale, so the histogram hashes
    * identically on any engine). The shape a curation run inspects before
    * choosing min/max-length gates. */
  def lengthHistogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), Text.tokenCount(col("text")).cast(LongType).as("n_tokens"))
      .select(col("lang"), expr("n_tokens div 64 * 64").as("bucket_start"))
      .groupBy(col("lang"), col("bucket_start"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("bucket_start"))

  /** Gopher-style repetition signal: basis-point share of the most frequent
    * token — explode + two-level aggregate, exact integer output. */
  def repetitionRatio(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        floor(max(col("c")).cast(DoubleType) * 10000d /
          sum(col("c")).cast(DoubleType)).cast(LongType).as("top_token_bp"),
        count(lit(1)).as("n_distinct_tokens"))
      .orderBy(col("doc_id"))

  /** Multi-rule quality gate: the heuristic ensemble (Gopher/C4-style) a
    * curation run applies before any learned classifier — length credit
    * plus three binary rules (stopword presence, low repetition, sane mean
    * token length), combined with exact integer weights so the score and
    * the keep/drop decision hash identically on any engine. The repetition
    * leg is the only exchange; every other signal is row-local. */
  def qualityEnsemble(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val rep = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(floor(max(col("c")).cast(DoubleType) * 10000d /
        sum(col("c")).cast(DoubleType)).cast(LongType).as("top_token_bp"))
    val base = docs.select(
      col("doc_id"),
      Text.tokenCount(col("text")).cast(LongType).as("n_tokens"),
      Text.stopRatioBp(col("text"), Stopwords).as("stop_ratio_bp"),
      Text.meanTokenLenBp(col("text")).as("mean_token_len_bp"))
    base.join(rep, Seq("doc_id"))
      .withColumn("score",
        least(col("n_tokens"), lit(100L)) * 10
          + when(col("stop_ratio_bp").between(100, 4000), 1000L).otherwise(0L)
          + when(col("top_token_bp") < 2000, 1000L).otherwise(0L)
          + when(col("mean_token_len_bp").between(30000, 120000), 1000L).otherwise(0L))
      .withColumn("keep", col("score") >= 3000)
      .select("doc_id", "n_tokens", "stop_ratio_bp", "top_token_bp",
        "mean_token_len_bp", "score", "keep")
      .orderBy(col("doc_id"))
  }

  /** PII redaction: synthetic email/phone spans injected around each doc,
    * then counted and replaced with typed tags. */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val noisy = concat(
      lit("contact user"), col("doc_id"), lit("@example.com or +1-555-"),
      lpad((col("doc_id") % 10000).cast(StringType), 4, "0"), lit(" : "), col("text"))
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        Text.piiCount(noisy).cast(LongType).as("n_pii"),
        Text.truncateTokens(Text.redactPii(noisy), 6).as("head6"))
      .orderBy(col("doc_id"))
  }

  /** Blocklist terms for the C4-style banned-content gate: single tokens
    * matched against the (deduped) token set, multi-word phrases matched
    * as substrings. Chosen to hit ~10% of the synthetic corpus so the
    * gate stays non-degenerate; a production run swaps in its own list. */
  val BlockTerms: Seq[String] = Seq("dup")
  val BlockPhrases: Seq[String] = Seq("slow scan")

  /** C4-style blocklist gate: flag every document containing a banned
    * token or phrase, with the sorted hit list for audit. Pure row-local
    * projection — array_intersect/contains are codegen'd builtins over
    * literal arrays, so at corpus scale this fuses into the scan's
    * WholeStageCodegen span: no shuffle, no UDF, no broadcast. */
  def blocklistFilter(s: SparkSession, dir: String): DataFrame = {
    val termsLit = array(BlockTerms.map(lit): _*)
    val termHits = array_intersect(array_distinct(Text.tokens(col("text"))), termsLit)
    val phraseHits = BlockPhrases.foldLeft(array().cast("array<string>")) { (acc, p) =>
      when(col("text").contains(p), concat(acc, array(lit(p)))).otherwise(acc)
    }
    val hits = array_sort(concat(termHits, phraseHits))
    t(s, dir, "documents")
      .select(col("doc_id"),
        array_join(hits, ",").as("hits"),
        size(hits).cast(LongType).as("n_hits"),
        (size(hits) > 0).as("blocked"))
      .orderBy(col("doc_id"))
  }

  /** Count-min-sketch heavy hitters over the corpus vocabulary — the
    * frequency sketch beside sketch_events' HLL/quantiles. d=4 counter
    * rows x W=256 buckets, hashed with the documented minhash seed family
    * h_j(code) = (A(j)*(code mod P) + B(j)) mod P mod W, so the sketch is
    * bit-identical across engines and the DuckDB twin replays it. The
    * output pins BOTH sketch guarantees per token: `sound` (the CMS
    * estimate never undercounts — always true) and `heavy` (estimate >=
    * 300bp of corpus tokens; overestimation can only ADD hitters, never
    * lose one). Scale story: counters are ONE map-side-combined exchange
    * collapsing to d*W = 1024 rows regardless of corpus size; the
    * per-token estimate joins the vocabulary against the broadcast
    * counter table — no corpus-wide shuffle anywhere. */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Hashing.{A, B, P}
    val W = 256L
    val tok = t(s, dir, "documents")
      .select(explode(Text.tokens(col("text"))).as("w"))
    val exact = tok.groupBy(col("w"))
      .agg(count(lit(1)).as("exact_cnt"))
      .withColumn("code", Text.wordCode(col("w")))
    val buckets = (0 until 4).map { j =>
      struct(lit(j).as("j"), (((col("code") % P) * A(j) + B(j)) % P % W).as("b"))
    }
    val jb = exact
      .select(col("w"), col("exact_cnt"), explode(array(buckets: _*)).as("jb"))
      .select(col("w"), col("exact_cnt"),
        col("jb.j").as("j"), col("jb.b").as("b"))
    val counters = jb.groupBy(col("j"), col("b"))
      .agg(sum(col("exact_cnt")).as("cnt"))
    val est = jb.join(broadcast(counters), Seq("j", "b"))
      .groupBy(col("w"), col("exact_cnt"))
      .agg(min(col("cnt")).as("est_cnt"))
    val total = exact.agg(sum(col("exact_cnt")).as("n"))
    est.crossJoin(broadcast(total))
      .select(col("w").as("token"), col("exact_cnt"), col("est_cnt"),
        (col("est_cnt") * 10000L >= col("n") * 300L).as("heavy"),
        (col("est_cnt") >= col("exact_cnt")).as("sound"))
      .orderBy(col("token"))
  }

  /** HyperLogLog distinct-shingle estimate per source — the cardinality
    * sketch beside heavy_hitters' CMS ([[graft.sketch.HLL]]): vocabulary
    * richness per domain from 64 integer registers instead of a distinct
    * shuffle. Registers are one map-side-combined exchange (<= 64 rows per
    * source cross the wire regardless of corpus size); the exact distinct
    * count and `err_bp` ride along so the 13%-sigma tradeoff is measured
    * against ground truth in the same result. All arithmetic is integer
    * (rank via bin()-string length, fixed-point alpha), so the DuckDB
    * oracle replays sketch AND estimate bit-for-bit. */
  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .select(col("source"),
        explode(call_function("graft_shingles", col("text"))).as("sh"))
      .select(col("source"), HLL.mix(col("sh")).as("h"))
    val exact = sh.groupBy(col("source"))
      .agg(count(lit(1)).as("n_values"), countDistinct(col("h")).as("exact_distinct"))
    val est = HLL.estimate(HLL.registers(sh, Seq("source"), "h"), Seq("source"))
    exact.join(est, "source")
      .withColumn("err_bp",
        expr("abs(hll_est - exact_distinct) * 10000L div exact_distinct"))
      .select("source", "n_values", "exact_distinct", "hll_est", "v_zero", "err_bp")
      .orderBy(col("source"))
  }

  /** Heaps-law vocabulary growth over the SHINGLE vocabulary: distinct
    * 3-gram shingles seen within the first N documents, for a fixed
    * ladder of prefix sizes — the curve that sizes tokenizer/n-gram
    * vocabularies and predicts novelty decay before training (the
    * word-level curve saturates instantly on this corpus's small word
    * pool; 3-grams keep growing, which is why dedup works on shingles).
    * One vocab aggregate (shingle -> first doc) and a 7-row literal
    * explode; prefixes beyond the corpus saturate at the full
    * vocabulary, so the same query is valid at every scale factor. */
  def vocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val prefixes = Seq(16L, 64L, 256L, 1024L, 4096L, 16384L, 65536L)
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(call_function("graft_shingles", col("text"))))
          .as("sh"))
      .groupBy(col("sh")).agg(min(col("doc_id")).as("fd"))
      .select(col("fd"), explode(array(prefixes.map(lit): _*)).as("prefix_docs"))
      .groupBy(col("prefix_docs"))
      .agg(sum(when(col("fd") < col("prefix_docs"), 1L).otherwise(0L))
        .as("n_distinct_tokens"))
      .orderBy(col("prefix_docs"))
  }

  /** Bottom-k (KMV) sketch per source — one pass, two products: a
    * DETERMINISTIC uniform sample without replacement (the k docs with
    * the smallest mixed hash — reproducible on any engine, partitioning,
    * or day, unlike rand()-based sampling) and the k-minimum-values
    * distinct estimate est = (k-1) * P div h_k, the classical
    * cross-check for [[hllDistinct]] from an entirely different
    * estimator family. The bottom-k selection is ONE `graft_topk`
    * bounded aggregate on the negated hash (bottom-k under (h ASC,
    * doc_id ASC) IS top-k under (-h DESC, doc_id ASC)): map-side
    * partial aggregation prunes every task to k rows per source before
    * the exchange, nothing ever sorts a source's hash stream, and the
    * KMV threshold h_k falls out of the aggregate for free — it is the
    * LAST element of the sorted result array, so the former
    * max-over-partition window disappears too. h stays in [0, P), so
    * the negation is exact. */
  def kmvBottomK(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Hashing.P
    val k = 10
    t(s, dir, "documents")
      .select(col("source"), col("doc_id"), HLL.mix(col("doc_id")).as("h"))
      .groupBy(col("source"))
      .agg(call_function("graft_topk", -col("h"), col("doc_id"), lit(k))
        .as("__tk"))
      .withColumn("kmv_est",
        expr(s"${k - 1}L * ${P}L div -element_at(__tk, cardinality(__tk)).score"))
      .select(col("source"), col("kmv_est"),
        posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(col("source"), (col("__pos") + 1).cast(LongType).as("pos"),
        col("__e").getField("id").as("doc_id"),
        (-col("__e").getField("score")).as("h"), col("kmv_est"))
      .orderBy(col("source"), col("pos"))
  }

  /** Mergeable per-source quantiles of document length from a
    * deterministic bottom-64 hash sample ([[SampleQuantiles]]) beside the
    * exact group count — the quantile member of the sketch family. */
  def sampleQuantiles(s: SparkSession, dir: String): DataFrame =
    SampleQuantiles.perGroup(
      t(s, dir, "documents").select("source", "doc_id", "n_chars"),
      Seq("source"), "n_chars", "doc_id")
      .orderBy(col("source"))

  /** Measured accuracy gate for [[sampleQuantiles]] — the quantile
    * sketch's ann_recall: exact per-source quantiles computed from the
    * VALUE HISTOGRAM (count per (source, n_chars), cumulated over the
    * O(distinct values) histogram rows — the ppl_buckets pattern, never a
    * corpus-wide per-group sort), then the sampled estimate's rank error
    * in basis points of the group size. err_bp = 0 when the estimate's
    * rank span covers the target position; the theoretical standard error
    * at the median is sqrt(.5*.5/64) ~ 625 bp, and the output makes the
    * actual error measured, not asserted. */
  def quantileError(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("source", "doc_id", "n_chars")
    val hist = docs.groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("cnt"))
    // cumulative counts over histogram rows: O(distinct lengths) per source
    val wv = Window.partitionBy(col("source")).orderBy(col("n_chars"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(
        wv.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("source"))))
    val qs = Seq(25, 50, 75)
    // sample + order statistics only — the exact counts perGroup would
    // bolt on are discarded here (this query derives n from its own
    // histogram), so skip that extra corpus aggregation entirely
    val est = SampleQuantiles.quantilesOfSample(
        SampleQuantiles.bottomK(docs, Seq("source"), "doc_id"),
        Seq("source"), "n_chars", "doc_id", qs)
      .select(col("source") +: qs.map(q => col(s"p$q")): _*)
    val perQ = cum.select(col("source"), col("n_chars"), col("cnt"), col("cum"),
        col("n"), explode(array(qs.map(lit): _*)).as("q"))
      .withColumn("pos", expr("1L + (n - 1L) * q div 100L"))
    val exact = perQ
      .groupBy(col("source"), col("q"), col("n"), col("pos"))
      .agg(min(when(col("cum") >= col("pos"), col("n_chars"))).as("exact_v"))
    // the estimate's rank span within the full group, off the same histogram
    val estLong = est.select(col("source"),
      explode(map(qs.flatMap(q => Seq(lit(q), col(s"p$q"))): _*)).as(Seq("q", "est_v")))
    val span = estLong.join(cum.withColumnRenamed("source", "__src"),
        col("__src") === col("source") && col("n_chars") === col("est_v"))
      .select(col("source"), col("q"), col("est_v"),
        (col("cum") - col("cnt") + 1L).as("span_lo"), col("cum").as("span_hi"))
    exact.join(span, Seq("source", "q"))
      .withColumn("__err", greatest(
        greatest(col("span_lo") - col("pos"), col("pos") - col("span_hi")),
        lit(0L)))
      .select(col("source"), col("q"), col("n").as("n_rows"),
        col("exact_v"), col("est_v"),
        expr("__err * 10000L div n").as("err_bp"))
      .orderBy(col("source"), col("q"))
  }

  /** Audio feature extraction pinned cross-engine — the audio leg of the
    * multimodal family (image: resize/phash, video: frame sampling): a
    * 32-sample 1-D fake payload is synthesized from the first 32 text
    * bytes (same ASCII byte-length gate as the image entries), framed
    * into 7 windows of 8 samples at stride 4 by the mapPartitions
    * operator ([[graft.multimodal.Multimodal.audioFeatures]]), each
    * frame's integer energy surfaced, and a rolling-hash fingerprint
    * folded over the frame sequence — the acoustic-fingerprint shape
    * (frame -> feature -> hash; the `fp` column is the audio-dedup
    * group-by key) with the codec honestly stubbed. The oracle replays
    * the sample positions, energies, and modular fold in SQL. */
  def audioFeaturesQ(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "documents")
      .filter(length(col("text")) >= 32 &&
        octet_length(substring(col("text"), 1, 32)) === 32)
      .select(col("doc_id"),
        concat(unhex(lit("0020000101")),
          substring(col("text"), 1, 32).cast(BinaryType)).as("payload"))
    graft.multimodal.Multimodal.audioFeatures(src, "payload", win = 8, stride = 4)
      .withColumn("fp", expr(
        "aggregate(energies, 0L, (acc, e) -> (acc * 131L + e) % 1000000007L)"))
      .select(col("doc_id"), col("fp"),
        posexplode(col("energies")).as(Seq("w_idx", "energy")))
      .select(col("doc_id"), col("w_idx").cast(LongType).as("w_idx"),
        col("energy"), col("fp"))
      .orderBy(col("doc_id"), col("w_idx"))
  }

  // ------------------------------------------------------------------ urls

  /** Deterministic messy-URL synthesis (the documents table has no URL
    * column): raw spellings with mixed case, default ports, tracking
    * params, unsorted queries, trailing slashes, and fragments, derived
    * from (doc_id, source) so the DuckDB twin rebuilds both the raw
    * string AND the expected canonical form analytically — an
    * independent derivation, not a re-run of the same parser. */
  private def rawUrl: Column = {
    val d = col("doc_id")
    val ds = col("doc_id").cast(StringType)
    val s = col("source")
    val scheme = when(d % 2 === 0, "https").otherwise("HTTPS")
    val host = when(d % 4 === 0, concat(s, lit(".example.com")))
      .when(d % 4 === 1, concat(lit("WWW."), s, lit(".Example.COM")))
      .when(d % 4 === 2, concat(s, lit(".news.co.uk")))
      .otherwise(concat(lit("cdn."), s, lit(".example.org")))
    val port = when(d % 5 === 0, ":443").when(d % 5 === 1, ":8080").otherwise("")
    val path = concat(lit("/Docs/"), ds, when(d % 3 === 0, "/").otherwise(""))
    val query = when(d % 3 === 0,
        concat(lit("?b="), (d % 7).cast(StringType), lit("&utm_source=feed&a=1")))
      .when(d % 3 === 1, concat(lit("?a=1&b="), (d % 7).cast(StringType)))
      .otherwise(lit("?utm_campaign=x&ref=home"))
    val frag = when(d % 5 === 0, "#Frag").otherwise("")
    concat(scheme, lit("://"), host, port, path, query, frag)
  }

  /** URL canonicalization ([[Urls.canonicalize]]): lowercased scheme and
    * host, default port and fragment dropped, trailing slash stripped,
    * tracking params removed, remaining params sorted. A narrow
    * codegen'd projection — the step a crawl pipeline runs before any
    * content dedup. */
  def urlCanonicalize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), rawUrl.as("url_raw"))
      .select(col("doc_id"), col("url_raw"),
        Urls.canonicalize(col("url_raw")).as("url_canon"))
      .orderBy(col("doc_id"))

  /** URL-level dedup: four raw spellings per page (www + default port +
    * trailing slash, tracking param, fragment) collapse onto one
    * [[Urls.dedupKey]]; keep-min doc per key with the duplicate count.
    * One map-side-combined group-by on the canonical key — no content
    * ever compared. */
  def urlDedup(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val page = expr("doc_id div 4").cast(StringType)
    // host derives from the page id (not the row) so all four spellings of
    // a page land on the same site regardless of how doc_ids map to sources
    val h = concat(lit("h"), expr("doc_id div 4 % 50").cast(StringType))
    val hUp = upper(h)
    val raw = when(d % 4 === 0,
        concat(lit("https://"), h, lit(".example.com/page/"), page))
      .when(d % 4 === 1,
        concat(lit("HTTPS://WWW."), hUp, lit(".Example.COM:443/page/"), page, lit("/")))
      .when(d % 4 === 2,
        concat(lit("https://"), h, lit(".example.com/page/"), page, lit("?utm_source=feed")))
      .otherwise(
        concat(lit("https://www."), h, lit(".example.com/page/"), page, lit("#top")))
    t(s, dir, "documents")
      .select(d, Urls.dedupKey(raw).as("url_key"))
      .groupBy(col("url_key"))
      .agg(min(col("doc_id")).as("keep_doc"), count(lit(1)).as("n_dups"))
      .orderBy(col("url_key"))
  }

  /** Registered-domain (eTLD+1) crawl report over canonical hosts
    * ([[Urls.registeredDomain]], full PSL rules): the unit crawl
    * pipelines budget and rate-limit by (news.co.uk stays a registered
    * domain; example.com absorbs www). */
  def urlDomainStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(lower(try_parse_url(rawUrl, lit("HOST"))).as("host"))
      .groupBy(Urls.registeredDomain(col("host")).as("reg_domain"))
      .agg(count(lit(1)).as("n_urls"), countDistinct(col("host")).as("n_hosts"))
      .orderBy(col("reg_domain"))

  /** The full PSL rule machinery ([[graft.functions.Psl]]) on one
    * synthetic frontier: normal longest-match, wildcard (`*.ck`,
    * `*.kawasaki.jp`), exception (`!www.ck`, `!city.kawasaki.jp`),
    * private-section (blogspot.com), the default rule (unknown TLD), and
    * a bare public suffix with no registrable part. Rule membership is
    * `InSet` literals inside the aggregate's projection — no broadcast,
    * no UDF; the only exchange is the host group-by. */
  def urlPslDomains(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val src = col("source")
    val host = when(d % 9 === 0, concat(src, lit(".example.com")))
      .when(d % 9 === 1, concat(src, lit(".shop.co.uk")))
      .when(d % 9 === 2, concat(src, lit(".web.ck")))
      .when(d % 9 === 3, lit("www.ck"))
      .when(d % 9 === 4, concat(src, lit(".city.kawasaki.jp")))
      .when(d % 9 === 5, concat(src, lit(".sub.kawasaki.jp")))
      .when(d % 9 === 6, concat(src, lit(".blogspot.com")))
      .when(d % 9 === 7, concat(lit("cdn."), src, lit(".unknowntld")))
      .otherwise(lit("co.uk"))
    t(s, dir, "documents")
      .select(host.as("host"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"))
      .select(col("host"), Psl.publicSuffix(col("host")).as("public_suffix"),
        Urls.registeredDomain(col("host")).as("reg_domain"), col("n_urls"))
      .orderBy(col("host"))
  }

  /** Cross-run crawl-frontier refresh ([[graft.dedup.UrlFrontier]]):
    * the already-crawled generation's canonical keys form the frontier
    * index; a new batch of raw spellings is anti-joined against it (a
    * page fetched last generation is never re-admitted), within-batch
    * duplicates collapse keep-min, and un-parseable URLs all survive.
    * The parquet-persisted index refreshing identically to this inline
    * form is spec-pinned (UrlFrontierSpec); the plan is one keep-min
    * aggregate on the reference side plus one anti-join and one
    * keep-min on the batch — window-free throughout. */
  def urlFrontierRefresh(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val page = expr("doc_id div 4").cast(StringType)
    val h = concat(lit("h"), expr("doc_id div 4 % 50").cast(StringType))
    val raw = when(d % 13 === 0, lit("not a url"))
      .when(d % 4 === 0,
        concat(lit("https://"), h, lit(".example.com/page/"), page))
      .when(d % 4 === 1,
        concat(lit("HTTPS://WWW."), upper(h), lit(".Example.COM:443/page/"), page, lit("/")))
      .when(d % 4 === 2,
        concat(lit("https://"), h, lit(".example.com/page/"), page, lit("?utm_source=feed")))
      .otherwise(
        concat(lit("https://www."), h, lit(".example.com/page/"), page, lit("#top")))
    val docs = t(s, dir, "documents").select(d, raw.as("url"))
    val idx = graft.dedup.UrlFrontier
      .buildIndex(docs.filter(d % 7 < 3), "doc_id", "url")
    graft.dedup.UrlFrontier
      .refresh(docs.filter(d % 7 >= 3), idx, "doc_id", "url")
      .select(col("doc_id"), Urls.dedupKey(col("url")).as("url_key"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------- near-dup / ANN

  def simhash16(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        call_function("graft_simhash16", col("text")).as("simhash"))
      .orderBy(col("doc_id"))

  def minhashSignature(s: SparkSession, dir: String): DataFrame =
    MinHash.bands(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    MinHash.candidatePairs(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("id_1"), col("id_2"))

  /** D1 via the skew-tolerant two-phase salted formulation — same semantics
    * as keep-last, different physical plan (checked against the same kind of
    * SQL window oracle). */
  def dedupKeeplastSalted(s: SparkSession, dir: String): DataFrame =
    Dedup.keepLastSalted(
      t(s, dir, "events").select("event_id", "user_id", "value"),
      Seq("user_id"), "event_id", saltBuckets = 16)
      .orderBy(col("event_id"))

  /** SimHash near-duplicate pairs: pigeonhole half-band blocking + exact
    * Hamming filter. */
  def simhashNearDup(s: SparkSession, dir: String): DataFrame =
    SimHash.nearDuplicates(t(s, dir, "documents"), "doc_id", "text", maxBits = 2)
      .select(col("id_1"), col("id_2"), col("hamming").cast(LongType).as("hamming"))
      .orderBy(col("id_1"), col("id_2"))

  /** Production-width simhash near-dup: the 64-bit fingerprint (two
    * independent 32-bit vote halves) with the classic 4x16-bit pigeonhole
    * blocking (Manku et al., WWW'07 use 64 bits / distance 3). Unlike the
    * 16-bit variant — whose fingerprint space collides aggressively and
    * whose pair output grows ~quadratically with corpus size — the 64-bit
    * candidate blocks stay selective at web scale, so this is the entry a
    * 100 TB run would use. */
  def simhash64NearDup(s: SparkSession, dir: String): DataFrame =
    SimHash.nearDuplicates(t(s, dir, "documents"), "doc_id", "text", maxBits = 3,
      bits = 64)
      .select(col("id_1"), col("id_2"), col("hamming").cast(LongType).as("hamming"))
      .orderBy(col("id_1"), col("id_2"))

  /** MinHash LSH candidates refined by exact shingle-set Jaccard. */
  def minhashNearDup(s: SparkSession, dir: String): DataFrame =
    MinHash.nearDuplicates(t(s, dir, "documents"), "doc_id", "text", minBp = 5000L)
      .orderBy(col("id_1"), col("id_2"))

  /** First-occurrence n-gram novelty (the RefinedWeb-style repetition
    * audit turned per-document): for each doc, the fraction of its
    * DISTINCT shingles that first appear in it (first = smallest doc_id).
    * Low-novelty documents are recombinations of earlier content — a
    * cross-document redundancy score that per-doc repetition_ratio and
    * pairwise dedup both miss. Two vocab-bounded aggregates (shingle ->
    * min doc, then per-doc counts); the shingle join is the same
    * map-side-combined shape as the df-cap queries. */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(call_function("graft_shingles", col("text"))))
          .as("sh"))
    val first = sh.groupBy(col("sh")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_bp", expr("n_novel * 10000L div n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** Train/val/test leakage audit: near-duplicate pairs
    * ([[minhashNearDup]]'s jaccard >= 5000bp graph) that CROSS the
    * deterministic stable_split boundary — the eval-hygiene number a
    * benchmark run reports before trusting held-out loss. Output: pair
    * counts per unordered split pair with the leak flag; the composition
    * adds two broadcast-sized split joins to the pair graph, nothing
    * corpus-wide. */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val bucket = (col("doc_id") % Hashing.P * Hashing.TokenHashA) % Hashing.P % 100
    val split = t(s, dir, "documents").select(col("doc_id"),
      when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
        .as("split"))
    MinHash.nearDuplicates(t(s, dir, "documents"), "doc_id", "text",
        minBp = 5000L)
      .join(split.select(col("doc_id").as("id_1"), col("split").as("s1")), "id_1")
      .join(split.select(col("doc_id").as("id_2"), col("split").as("s2")), "id_2")
      .select(least(col("s1"), col("s2")).as("split_a"),
        greatest(col("s1"), col("s2")).as("split_b"),
        (col("s1") =!= col("s2")).as("leaky"))
      .groupBy(col("split_a"), col("split_b"), col("leaky"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** Recall curve of banded-LSH near-dup detection against exact Jaccard
    * ground truth — the text-dedup analog of `ann_recall`, and the
    * measurement a pipeline runs before trusting LSH dedup at scale: per
    * Jaccard decile (every pair sharing a shingle is ground truth), how
    * many of the exact pairs the 4x4 banding caught. Empirically pins the
    * LSH s-curve (P[catch] = 1-(1-j^4)^4) at BOTH ends: the low deciles'
    * caught count is the band false-candidate rate (pairs the verify then
    * pays to discard), the high deciles' is true recall. The caught set is
    * a subset of the exact set by construction (candidates are verified
    * with the same shingle Jaccard), so recall is a plain semi-join count.
    * Scale: ground truth is the exact co-occurrence join (sample it at
    * real scale); the LSH leg is the production banding, and since the
    * ground truth already carries the exact Jaccard, the band candidates
    * need no verify pass here. */
  def lshRecall(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sets = MinHash.withShingles(docs, "doc_id", "text")
      .select(col("doc_id"), array_distinct(col("__sh")).as("sh"))
    val exploded = sets.select(col("doc_id"), explode(col("sh")).as("x"))
      .repartition(col("x"))
    // sizes from the exploded rows (sh is already distinct), NOT size(sh):
    // counting rides the reused explode exchange instead of re-running the
    // scan+shingle lineage a second time (r19; the dfCappedPairBackbone
    // discipline). Docs with an empty set drop out, but they can appear in
    // no pair, and sizes only ever inner-joins onto pairs.
    val sizes = exploded.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val exact = exploded.as("a")
      .join(exploded.as("b"),
        col("a.x") === col("b.x") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_1"), col("b.doc_id").as("id_2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("na"), col("id_1") === col("na.doc_id"))
      .join(sizes.as("nb"), col("id_2") === col("nb.doc_id"))
      .withColumn("jaccard_bp",
        floor(col("inter").cast(DoubleType) * 10000d /
          (col("na.n") + col("nb.n") - col("inter")).cast(DoubleType)).cast(LongType))
      .filter(col("jaccard_bp") >= 1)
    val caught = MinHash.candidatePairs(docs, "doc_id", "text")
      .select(col("id_1"), col("id_2"))
    val bucketed = exact.withColumn("bucket",
      expr("least(jaccard_bp, 9999) div 1000"))
    val nAll = bucketed.groupBy(col("bucket")).agg(count(lit(1)).as("n_exact"))
    val nCaught = bucketed.join(caught, Seq("id_1", "id_2"), "left_semi")
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_caught"))
    nAll.join(nCaught, Seq("bucket"), "left")
      .select(col("bucket"), col("n_exact"),
        coalesce(col("n_caught"), lit(0L)).as("n_caught"))
      .withColumn("recall_bp", expr("n_caught * 10000 div n_exact"))
      .orderBy(col("bucket"))
  }

  /** Gopher's duplicated-n-gram fraction: per document, the basis-point
    * share of shingle occurrences belonging to a shingle that repeats
    * WITHIN the document (the other repetition axis from `repetition_ratio`,
    * which looks at single tokens). Explode + two-level aggregate, exact
    * integers. */
  def dupNgrams(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(call_function("graft_shingles", col("text"))).as("x"))
      .groupBy(col("doc_id"), col("x"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_sh_total"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ngram_bp", expr("n_dup * 10000 div n_sh_total"))
      .orderBy(col("doc_id"))

  /** Near-duplicate pair counts by source pair: which domains mirror each
    * other — the report that drives per-source dedup policy. The pair legs
    * join back to the documents table for their sources; pairs are LSH
    * band candidates (never all-pairs), so the joins carry only the
    * near-dup graph, not the corpus. */
  def neardupBySource(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val src = docs.select(col("doc_id"), col("source"))
    MinHash.nearDuplicates(docs, "doc_id", "text", minBp = 5000L)
      .join(src.as("da"), col("id_1") === col("da.doc_id"))
      .join(src.as("db"), col("id_2") === col("db.doc_id"))
      .select(
        least(col("da.source"), col("db.source")).as("source_1"),
        greatest(col("da.source"), col("db.source")).as("source_2"))
      .groupBy(col("source_1"), col("source_2"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("source_1"), col("source_2"))
  }

  /** Training-sequence packing: documents are concatenated in (split,
    * shard, doc_id) order and chunked into fixed token-budget sequences —
    * each doc gets the pack it STARTS in and its offset there (sequential
    * chunking, the standard LLM batch-prep shape, not bin packing). The
    * running sum parallelizes per (split, shard): an unsharded pack order
    * would serialize each split into one window task at corpus scale, so
    * the shard key (doc_id mod 64) bounds every task's work while keeping
    * pack assignment deterministic and engine-independent. */
  def tokenPack(s: SparkSession, dir: String): DataFrame =
    tokenPackFrom(t(s, dir, "documents")
      .select(col("doc_id"), Text.tokenCount(col("text")).cast(LongType).as("n_tokens")))

  /** The packing body over any `(doc_id, n_tokens)` counts frame — the
    * counter is pluggable so [[tokenPackBpe]] can budget in REAL
    * tokenizer tokens while [[tokenPack]] keeps the cheap whitespace
    * default. */
  private def tokenPackFrom(d: DataFrame): DataFrame = {
    val budget = 512L
    val split = graft.pipelines.CorpusPipeline
      .withSplit(d, "doc_id", graft.pipelines.CorpusPipeline.Config())
      .withColumn("shard", col("doc_id") % 64)
    val w = Window.partitionBy(col("split"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    split
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("split"), col("shard"), col("n_tokens"),
        expr(s"cum_before div $budget").as("pack_id"),
        (col("cum_before") % budget).as("pack_offset"))
      .orderBy(col("split"), col("shard"), col("doc_id"))
  }

  /** [[tokenPack]] denominated in REAL BPE tokens: the merge table
    * trained by the bpe_train_merges loop is applied back to the corpus
    * ([[graft.text.BPE.tokenCounts]] — vocab-bounded encode, one join),
    * so pack budgets mean what a tokenizer would actually emit instead
    * of whitespace-token approximations. */
  def tokenPackBpe(s: SparkSession, dir: String): DataFrame =
    tokenPackFrom(BPE.tokenCounts(t(s, dir, "documents"), "doc_id", "text",
      trainedMerges(s, dir), outCol = "n_tokens"))

  /** The per-pack manifest a dataloader consumes: for every (split,
    * shard, pack) of `token_pack`, the doc count, token mass, and the
    * ordered comma-joined segment lengths (the attention-mask boundary
    * list — a packed window must not attend across document joints). One
    * aggregate over the packing window's output; collapses to O(packs)
    * rows, so the manifest is metadata-sized at any corpus scale. */
  def packManifest(s: SparkSession, dir: String): DataFrame =
    tokenPack(s, dir)
      .groupBy(col("split"), col("shard"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        array_join(
          expr("transform(array_sort(collect_list(struct(doc_id, n_tokens))), " +
            "x -> cast(x.n_tokens as string))"),
          ",").as("segments"))
      .orderBy(col("split"), col("shard"), col("pack_id"))

  /** TF-IDF-style salient terms, integer-exact: score = tf/len * N/df as
    * the rational floor(tf*N*10000 / (df*len)) so both engines agree
    * bit-for-bit (a log-idf would hang the oracle on libm rounding).
    * Plan: one exchange on (doc,term) for tf, an aggregate on term for df
    * joined back (shuffle join — vocabulary can exceed broadcast at
    * corpus scale), the 1-row N broadcast, and ONE exchange on doc
    * serving both the length sum and the top-3 ranking window. */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val tf = d.select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    val wDoc = Window.partitionBy(col("doc_id"))
    tf.join(dft, "term")
      .crossJoin(broadcast(n))
      .withColumn("len", sum(col("tf")).over(wDoc))
      .withColumn("score_bp", expr("(tf * n_docs * 10000) div (df * len)"))
      .withColumn("term_rank",
        row_number().over(wDoc.orderBy(col("score_bp").desc, col("term"))))
      .filter(col("term_rank") <= 3)
      .select(col("doc_id"), col("term"), col("term_rank").cast(LongType).as("term_rank"),
        col("score_bp"))
      .orderBy(col("doc_id"), col("term_rank"))
  }

  /** Winnowing fingerprint pairs (see [[graft.dedup.Winnow]]): docs sharing
    * >= 2 window-minimum shingle fingerprints — catches LOCAL overlap
    * (quotation, plagiarized passages) that whole-doc Jaccard/LSH misses.
    * maxDf = NgramMaxDf keeps the hot-key gate a no-op on the testdata
    * while the capped plan stays the one that runs. */
  def winnowPairs(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Winnow.pairs(t(s, dir, "documents"), "doc_id", "text",
      w = 4, minShared = 2L, maxDf = NgramMaxDf)
      .orderBy(col("id_1"), col("id_2"))

  /** [[winnowPairs]] with the fingerprint df cap ACTIVE (maxDf =
    * [[WinnowCapDf]], under the sf0.01 corpus max of 14): the hot-key
    * release valve the 100 TB deployment runs with. Window minima skew
    * toward globally small hash values, so without the cap a boilerplate
    * fingerprint shared by millions of documents would concentrate the
    * pair join on one key; with it, over-df fingerprints are dropped
    * BEFORE the self-join, so the worst key fans out at most maxDf^2
    * pairs. WinnowSpec proves the cap removes only pairs whose support
    * came from the dropped boilerplate fingerprints — genuine local
    * overlap (carried by rarer fingerprints) is untouched. */
  def winnowCapped(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Winnow.pairs(t(s, dir, "documents"), "doc_id", "text",
      w = 4, minShared = 2L, maxDf = WinnowCapDf)
      .orderBy(col("id_1"), col("id_2"))

  /** Robust-winnowing sketch summary (see [[graft.dedup.Winnow
    * .robustFingerprints]]): per doc, how many fingerprints the stateful
    * rightmost-min rule charts over its shingle stream. The density
    * column is the quantity the SIGMOD'03 paper bounds (~2/(w+1) expected,
    * ~1/w on constant runs where the plain variant degenerates to ~1) —
    * the gate a pipeline reads before trusting the sketch size budget. */
  def winnowRobust(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val nsh = d.select(col("doc_id"),
        (size(split(col("text"), " ")) - 2).cast(LongType).as("n_shingles"))
      .filter(col("n_shingles") >= 4)
    val fps = graft.dedup.Winnow.robustFingerprints(d, "doc_id", "text", w = 4)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    nsh.join(fps, Seq("doc_id"))
      .withColumn("density_bp", expr("n_fp * 10000 div n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** BM25 query-by-example retrieval: each probe doc (id < 4) queries the
    * corpus with its own top-3 tf-idf terms; corpus docs are scored with
    * BM25 (k1=1.2, b=0.75) in EXACT integer arithmetic — idf as the
    * bit-length difference ~log2(N/df) (the surprisal family's integer
    * log), and the tf saturation term cleared of fractions by multiplying
    * through by 10*sum_dl: score_millis = sum over query terms of
    * (idf_bits * 22*tf*sum_dl * 1000) div (10*tf*sum_dl + 3*sum_dl +
    * 9*dl*N). Scale: the probe terms are a broadcast sliver joined
    * against the postings (tf) table — the classic impact-ordered
    * retrieval shape where only matching postings are touched; corpus
    * stats (N, sum_dl) broadcast as one row. */
  def bm25TopK(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val tf = d.select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = d.agg(count(lit(1)).as("n_docs"))
      .crossJoin(tf.agg(sum(col("tf")).as("sum_dl")))
    // probe terms come from tfidfTopTerms as an INDEPENDENT subtree on
    // purpose: rewriting them over this query's own tf/dft/dl frames
    // reads as reuse but is the opposite in a declarative plan — every
    // reference inlines a fresh copy of the aggregate (measured: 20
    // parquet scans / 65 HashAggregates vs 9 scans, 2x wall at sf0.1),
    // because nothing here is persisted and Catalyst does not share
    // subtrees across a broadcast boundary
    val qterms = tfidfTopTerms(s, dir)
      .filter(col("doc_id") < 4)
      .select(col("doc_id").as("query_id"), col("term"))
    val scored = tf
      .join(broadcast(qterms), "term")
      .filter(col("doc_id") =!= col("query_id"))
      .join(dft, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf_bits",
        (length(bin(col("n_docs"))) - length(bin(col("df")))).cast(LongType))
      .withColumn("part_millis",
        expr("""(idf_bits * 22 * tf * sum_dl * 1000)
               | div (10 * tf * sum_dl + 3 * sum_dl + 9 * dl * n_docs)""".stripMargin))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("part_millis")).as("score_millis"))
    // per-query ranking via the graft_topk bounded aggregate: a probe
    // term shared by a large corpus fraction would otherwise send that
    // query's whole candidate set to one window partition's sort
    Similarity.topKPerQuery(scored, "score_millis", 10, idCol = "doc_id")
      .orderBy(col("query_id"), col("rank"))
  }

  /** Connected components over the minhash near-duplicate pair graph: the
    * clustering finisher for LSH dedup. Output: every doc incident to a
    * near-pair with its component id (= smallest doc_id reachable through
    * near-duplicate links), so transitive chains a~b~c resolve to one
    * canonical doc. Oracle: DuckDB recursive CTE computing min reachable
    * id over the same pair graph. */
  def neardupComponents(s: SparkSession, dir: String): DataFrame = {
    val pairs = MinHash.nearDuplicates(t(s, dir, "documents"), "doc_id", "text",
      minBp = 5000L)
    ConnectedComponents.run(pairs, "id_1", "id_2")
      .select(col("node").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))
  }

  /** Cross-corpus span excision (see [[SpanDedup.exciseAgainst]]): every
    * batch token position inside an 8-gram the reference corpus (src0)
    * already contains is removed — the crawl-refresh "don't re-ingest
    * passages the curated corpus has" pass, span-granular where
    * incremental_dedup drops whole documents. The reference contributes
    * only its distinct gram set (persistable via saveGrams/loadGrams,
    * broadcast-able when the reference is an eval-suite-sized corpus). */
  def spanExciseRef(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    SpanDedup.exciseAgainst(
        docs.filter(col("source") =!= "src0"),
        SpanDedup.referenceGrams(
          docs.filter(col("source") === "src0"), "doc_id", "text", gramTokens = 8),
        // the reference here is a CORPUS SLICE (src0 ~ 10% of documents),
        // the crawl-sized-reference shape — take exciseAgainst's default
        // shuffle-hash join; broadcastRef is for MB-sized eval suites
        // (contamination_spans), and pinning it here would OOM at the
        // 100 TB design point. Both shapes are spec-pinned row-identical.
        "doc_id", "text", gramTokens = 8, broadcastRef = false)
      .orderBy(col("doc_id"))
  }

  /** 2-core of the near-dup graph (see [[KCore.run]]): peel degree-<2
    * nodes for 4 rounds; what survives is the dense center — template
    * families and mirror farms — with each member's within-core degree.
    * One-off pair matches (the bulk of near-dup output) peel away in the
    * first round. */
  def kcoreDocs(s: SparkSession, dir: String): DataFrame = {
    val pairs = MinHash.nearDuplicates(t(s, dir, "documents"), "doc_id", "text",
      minBp = 5000L)
    val edges = pairs.select(col("id_1").as("u"), col("id_2").as("v"))
      .unionByName(pairs.select(col("id_2").as("u"), col("id_1").as("v")))
    KCore.run(edges, "u", "v", k = 2, rounds = 4)
      .select(col("node").as("doc_id"), col("core_degree"))
      .orderBy(col("doc_id"))
  }

  /** Embedding outliers (see [[Outliers.byCentroid]]): per-label centroid
    * in the dimension-exploded layout, exact integer squared-L2 distance,
    * the 3 farthest vectors per label flagged. The curation pass that
    * surfaces mislabeled or garbage members of an otherwise-tight
    * cluster. */
  def embeddingOutliers(s: SparkSession, dir: String): DataFrame =
    // label is int in the parquet; the long cast happens HERE (the oracle
    // emits BIGINT), not inside byCentroid, which now preserves the group
    // column's own type so string groups (source, language) work
    Outliers.byCentroid(
        t(s, dir, "embeddings").withColumn("label", col("label").cast("long")),
        "vec_id", "embedding", "label", topK = 3)
      .orderBy(col("vec_id"))

  /** Quota-based stratified split: exactly 5 eval docs per source, chosen
    * by ranking the stable per-doc hash within each stratum — the
    * balanced-eval-set sibling of `stable_split`'s proportional buckets.
    * Deterministic on any partitioning. The quota pick is one
    * `graft_topk` bounded aggregate on the negated stratum hash
    * (bottom-5 = top-5 of -h; h in [0, P) so negation is exact): every
    * map task prunes to 5 rows per source before the exchange, no task
    * ever sorts a stratum, and the winner sliver — sources x 5 rows —
    * joins back to flag the full corpus. */
  def quotaSplit(s: SparkSession, dir: String): DataFrame = {
    val h = col("doc_id") % Hashing.P * Hashing.TokenHashA % Hashing.P
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), h.as("__h"))
    val winners = Similarity
      .bottomKIds(base, Seq("source"), "doc_id", "__h", 5)
      .select(col("doc_id"), lit(true).as("__eval"))
    base
      .join(broadcast(winners), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        when(col("__eval").isNotNull, "eval").otherwise("train").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Unicode NFC normalization via the native `graft_nfc` expression —
    * the canonical-composition pass crawled text needs before any byte-
    * or char-keyed dedup (decomposed and precomposed accents must hash
    * identically). The catalog injects a decomposed "e + combining
    * acute" in front of every doc so the composition is LIVE on the
    * ASCII corpus: n_chars_nfc = n_chars_raw - 1. Row-local and
    * codegen'd — fuses into the scan projection, zero allocation on
    * already-NFC text. */
  def nfcNormalize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), concat(lit("e\u0301 "), col("text")).as("raw"))
      .select(col("doc_id"),
        call_function("graft_nfc", col("raw")).as("nfc_text"),
        length(col("raw")).cast(LongType).as("n_chars_raw"))
      .withColumn("n_chars_nfc", length(col("nfc_text")).cast(LongType))
      .orderBy(col("doc_id"))

  /** FineWeb-style domain gate: per-source MEAN ensemble quality (exact
    * integer millis), sources whose mean falls below 3,400,000 gate out
    * ALL their docs — the two-level filter that removes spam domains
    * whose individual pages sneak past doc-level gates. The source
    * aggregate is O(sources) and broadcast back onto the doc stream, so
    * the gate costs one extra map-side join. */
  def domainGate(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents").select(col("doc_id"), col("source"))
      .join(qualityEnsemble(s, dir).select(col("doc_id"), col("score")), Seq("doc_id"))
    val bySource = scored.groupBy(col("source"))
      .agg(expr("sum(score) * 1000 div count(1)").as("source_mean_millis"))
    scored
      .join(broadcast(bySource), Seq("source"))
      .select(col("doc_id"), col("source"), col("score"),
        col("source_mean_millis"),
        (col("source_mean_millis") >= 3400000L).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Learned quality filter (see [[LinearModel.score]]): fastText-shaped
    * hashed bag-of-words linear model — tokens hash into 1024 feature
    * buckets, the (broadcast) weights table maps bucket -> integer
    * weight, a doc's logit is the sum, keep = logit >= 0. The catalog
    * weights are the deterministic stand-in; production loads trained
    * weights from parquet through the same plumbing. */
  def qualityLogit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    LinearModel.score(docs, "doc_id", "text",
        LinearModel.hashWeights(docs, 1024), "feature", "weight", buckets = 1024)
      .orderBy(col("doc_id"))
  }

  /** Labeled training frame for the learned filter: the heuristic
    * quality-ensemble score distilled into a 0/1 label (weak
    * supervision — the production pattern where a cheap teacher labels
    * the corpus and a hashed linear student learns to imitate it at
    * inference cost). Threshold 3500 splits the test corpus ~55/45. */
  private def qualityLabeled(docs: DataFrame): DataFrame =
    docs
      .join(graft.pipelines.CorpusPipeline.ensembleScore(docs, "doc_id", "text"),
        Seq("doc_id"))
      .select(col("doc_id"), col("text"),
        (col("__score") >= 3500).cast(LongType).as("label"))

  /** Trained weights for the learned filter ([[LinearModel.train]]):
    * 3 batch-perceptron rounds over the 1024-bucket hashed features,
    * labels distilled from the quality ensemble. All integer, so DuckDB
    * replays every gradient fold and the dense weight table hash-matches.
    * This closes the loop quality_logit left open — the engine can now
    * PRODUCE the weights its inference path consumes. */
  def qualityTrain(s: SparkSession, dir: String): DataFrame =
    LinearModel.train(qualityLabeled(t(s, dir, "documents")),
        "doc_id", "text", "label", buckets = 1024, iters = 3)
      .orderBy(col("feature"))

  /** Train -> infer round trip through the catalog: score the corpus with
    * the weights [[qualityTrain]] just learned (same plumbing as
    * quality_logit's stand-in weights — broadcast join, integer sums).
    * The whole loop — teacher labels, perceptron folds, broadcast
    * scoring — is oracle-replayed end to end. */
  def qualityTrainInfer(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val weights = LinearModel.train(qualityLabeled(docs),
      "doc_id", "text", "label", buckets = 1024, iters = 3)
    LinearModel.score(docs, "doc_id", "text", weights, "feature", "weight",
        buckets = 1024)
      .orderBy(col("doc_id"))
  }

  /** The one-table dedup audit a data team reads before a training run:
    * every dedup method's removal mass side by side — whole-doc exact
    * (fingerprint group), whole-doc near (LSH components at 5000bp),
    * chunk-level (32-token frames), and position-level span (8-token
    * anchors) — as (method, docs_affected, units_removed, unit). Each leg
    * rides its existing backbone and collapses to one row, so the report
    * costs the union of the passes it summarizes and nothing more. */
  def dedupReport(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val exact = Dedup.exactGroups(docs, Seq("text"), "doc_id")
      .agg(sum(col("n_dups") - 1).as("docs_affected"),
        sum(col("n_dups") - 1).as("units_removed"))
      .select(lit("exact").as("method"), col("docs_affected"),
        col("units_removed"), lit("docs").as("unit"))
    val near = {
      val pairs = MinHash.nearDuplicates(docs, "doc_id", "text",
        minBp = 5000L)
      ConnectedComponents.run(pairs, "id_1", "id_2")
        .filter(col("node") =!= col("component"))
        .agg(count(lit(1)).as("docs_affected"), count(lit(1)).as("units_removed"))
        .select(lit("near_lsh").as("method"), col("docs_affected"),
          col("units_removed"), lit("docs").as("unit"))
    }
    val chunk = ChunkDedup.dedupChunks(docs, "doc_id", "text", chunkTokens = 32)
      .agg(
        sum(when(col("n_kept") < col("n_chunks"), 1L).otherwise(0L)).as("docs_affected"),
        sum(col("n_chunks") - col("n_kept")).as("units_removed"))
      .select(lit("chunk32").as("method"), col("docs_affected"),
        col("units_removed"), lit("chunks").as("unit"))
    val span = SpanDedup.dedupSpans(docs, "doc_id", "text", gramTokens = 8)
      .agg(
        sum(when(col("n_removed") > 0, 1L).otherwise(0L)).as("docs_affected"),
        sum(col("n_removed")).as("units_removed"))
      .select(lit("span8").as("method"), col("docs_affected"),
        col("units_removed"), lit("tokens").as("unit"))
    exact.unionByName(near).unionByName(chunk).unionByName(span)
      .orderBy(col("method"))
  }

  /** Near-dup cluster size histogram — the one-table summary every dedup
    * report leads with: how many clusters of each size the jaccard >=
    * 5000bp graph contains (size 2 = simple pairs, the tail = mirror
    * farms). Rides the existing pair-graph + components backbone and
    * collapses to O(distinct sizes) rows. */
  def neardupClusterSizes(s: SparkSession, dir: String): DataFrame = {
    val pairs = MinHash.nearDuplicates(t(s, dir, "documents"), "doc_id", "text",
      minBp = 5000L)
    ConnectedComponents.run(pairs, "id_1", "id_2")
      .groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))
  }

  /** IVF index health: per-list occupancy of the 16-list index (empty
    * lists included) with each list's share in basis points — the balance
    * gauge that tells an operator whether nlist/refinement is doing its
    * job BEFORE query latency regresses (a hot list = a hot probe). */
  def ivfBalance(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val index = IVF.build(emb, "vec_id", "embedding", nlist = 16, iters = 1)
    val occ = index.assigned.groupBy(col("__list").as("list"))
      .agg(count(lit(1)).as("n_vectors"))
    val lists = emb.sparkSession.range(16).select(col("id").cast("int").as("list"))
    val total = emb.agg(count(lit(1)).as("n_total"))
    lists.join(occ, Seq("list"), "left")
      .withColumn("n_vectors", coalesce(col("n_vectors"), lit(0L)))
      .crossJoin(broadcast(total))
      .select(col("list").cast(LongType).as("list"), col("n_vectors"),
        expr("n_vectors * 10000L div n_total").as("share_bp"))
      .orderBy(col("list"))
  }

  /** Quality-ranked cluster representatives: the dedup FINISHER a training
    * pipeline actually wants. neardup_components keeps the min-id doc per
    * duplicate cluster; this keeps the BEST doc — highest quality_ensemble
    * score, ties to the smaller id — and marks everything else droppable.
    * Docs in no near-pair are their own singleton component (is_rep =
    * true). Composition is three already-bucketed stages (LSH pairs ->
    * pointer-jumping components -> per-component window); the component
    * join adds one hash shuffle on doc_id and the rank window is bounded
    * by cluster size, so the finisher inherits the scale story of its
    * parts. */
  def clusterBest(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = MinHash.nearDuplicates(docs, "doc_id", "text",
      minBp = 5000L)
    val comp = ConnectedComponents.run(pairs, "id_1", "id_2")
      .select(col("node").as("doc_id"), col("component"))
    val scored = qualityEnsemble(s, dir).select(col("doc_id"), col("score"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("score").desc, col("doc_id").asc)
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
      .join(scored, Seq("doc_id"))
      .withColumn("is_rep", row_number().over(w) === 1)
      .select(col("doc_id"), col("component"), col("score"), col("is_rep"))
      .orderBy(col("doc_id"))
  }

  /** Graph centrality over the near-dup candidate graph: fixed-point
    * integer PageRank ([[graft.operators.PageRank]], 3 iterations,
    * damping 85/100, scale 1e9) on the LSH band-pair graph taken as
    * undirected. High-rank docs sit at the CENTER of boilerplate/mirror
    * clusters — a canonicality signal orthogonal to cluster_best's
    * quality score. Isolated docs hold the base term. All arithmetic is
    * non-negative integer floor division, so the DuckDB oracle replays
    * the three unrolled iterations bit-for-bit. */
  def docPageRank(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = MinHash.candidatePairs(docs, "doc_id", "text")
      .select(col("id_1"), col("id_2"))
    val edges = pairs.union(pairs.select(col("id_2"), col("id_1")))
      .toDF("src", "dst")
    PageRank.run(docs.select(col("doc_id")), "doc_id", edges, "src", "dst")
      .select(col("node").as("doc_id"), col("rank_fp"))
      .orderBy(col("doc_id"))
  }

  /** Majority label propagation over the near-dup candidate graph
    * ([[graft.operators.LabelProp]], 2 synchronous rounds): spread the
    * language label across near-duplicate links so mirror clusters
    * converge on one consistent label even where the per-doc classifier
    * disagreed — `changed` marks the flipped members. Ties break to the
    * lexicographically smallest label, so the DuckDB oracle replays the
    * unrolled rounds exactly. */
  def labelSpread(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = MinHash.candidatePairs(docs, "doc_id", "text")
      .select(col("id_1"), col("id_2"))
    val edges = pairs.union(pairs.select(col("id_2"), col("id_1")))
      .toDF("src", "dst")
    LabelProp.run(docs.select(col("doc_id"), col("lang")), "doc_id", "lang",
        edges, "src", "dst")
      .join(docs.select(col("doc_id").as("node"), col("lang").as("seed_lang")), "node")
      .select(col("node").as("doc_id"), col("seed_lang"), col("label"),
        (col("label") =!= col("seed_lang")).as("changed"))
      .orderBy(col("doc_id"))
  }

  /** Triangle census of the near-dup candidate graph
    * ([[graft.operators.Triangles]], degree-oriented node-iterator): how
    * clique-like is each document's neighborhood. Mirror clusters are
    * cliques (triangle-dense); chains of incremental revisions are paths
    * (triangle-free) — a structural signal neither component id nor
    * PageRank carries. Counts are orientation-invariant, so the DuckDB
    * oracle replays a naive 3-way pair join and matches exactly while the
    * Spark plan keeps the skew-proof orientation. */
  def triangleCount(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = MinHash.candidatePairs(docs, "doc_id", "text")
    Triangles.perNode(docs.select(col("doc_id")), "doc_id", pairs, "id_1", "id_2")
      .select(col("node").as("doc_id"), col("degree"), col("n_triangles"))
      .orderBy(col("doc_id"))
  }

  /** Document-frequency cap shared by the shingle-join queries: shingles in
    * more than this many documents are dropped from the sets before the
    * self-join (stop-shingle guard — one boilerplate shingle otherwise
    * concentrates the whole shuffle on a single key). 2000 is far above the
    * testdata's max df (29 at sf0.01, 236 at sf0.1), so the gate results
    * equal the unfiltered answer while the capped path stays oracle-pinned. */
  val NgramMaxDf = 2000L

  /** Active fingerprint df cap for [[winnowCapped]]: below the sf0.01
    * winnow-fingerprint max df (14), so the boilerplate gate demonstrably
    * fires on the testdata and the capped plan is oracle-verified with
    * the filter ENGAGED, not as a no-op. */
  val WinnowCapDf = 8L

  /** Exact all-pairs Jaccard >= 0.8 by exploded co-occurrence counting.
    * (graft.dedup.Jaccard.pairs is the prefix-filtered formulation of the
    * same result — asymptotically better on web-scale corpora, but its
    * extra stages cost more than they save at this sf, so the benched
    * query keeps the direct plan; both are pinned by the same oracle.) */
  /** Shared backbone of ngram_jaccard_pairs and containment_pairs: the
    * df-capped exploded (doc_id, shingle) co-occurrence rows plus per-doc
    * capped set sizes. One explicit exchange on x feeds the df aggregate,
    * the anti-join probe, BOTH self-join sides, and the sizes aggregate:
    * identical child plans -> Spark reuses the shuffle stage, so the
    * (expensive, interpreted) shingle pipeline runs exactly once instead
    * of once per plan branch. The cap itself is a heavy-shingle ANTI-JOIN
    * rather than a count window: the df aggregate partial-combines
    * map-side, so the boilerplate shingle the cap exists for collapses
    * per map task instead of shipping every occurrence into one buffered
    * window partition, and the build side holds only the <= occ/cap
    * shingles above the cap. Sizes come from the exploded rows (sh is
    * already distinct), NOT size(sh): an aggregate attribute can't be
    * inlined by constraint inference into a quadratic interpreted filter
    * over the shingle tree; counting after the df filter makes the
    * semantics "over the df-capped sets" — exact, and identical to
    * unfiltered when the cap exceeds the corpus max df. */
  private def dfCappedPairBackbone(d: DataFrame): (DataFrame, DataFrame) = {
    val sets = MinHash.withShingles(d, "doc_id", "text")
      .select(col("doc_id"), array_distinct(col("__sh")).as("sh"))
    val occ = sets.select(col("doc_id"), explode(col("sh")).as("x"))
      .repartition(col("x"))
    val heavy = occ.groupBy(col("x"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > NgramMaxDf)
      .select(col("x"))
    val exploded = occ.join(heavy, Seq("x"), "left_anti")
      .select(col("doc_id"), col("x"))
    val sizes = exploded.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    (exploded, sizes)
  }

  /** Pair intersection counts over the backbone's exploded rows. */
  private def pairIntersections(exploded: DataFrame): DataFrame =
    exploded.as("a")
      .join(exploded.as("b"),
        col("a.x") === col("b.x") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_1"), col("b.doc_id").as("id_2"))
      .agg(count(lit(1)).as("inter"))

  def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val (exploded, sizes) = dfCappedPairBackbone(t(s, dir, "documents"))
    pairIntersections(exploded)
      .join(sizes.as("na"), col("id_1") === col("na.doc_id"))
      .join(sizes.as("nb"), col("id_2") === col("nb.doc_id"))
      .withColumn("jaccard_bp",
        floor(col("inter").cast(DoubleType) * 10000d /
          (col("na.n") + col("nb.n") - col("inter")).cast(DoubleType)).cast(LongType))
      .filter(col("jaccard_bp") >= 8000)
      .select("id_1", "id_2", "jaccard_bp")
      .orderBy(col("id_1"), col("id_2"))
  }

  /** Asymmetric containment pairs: |A∩B| / min(|A|,|B|) — catches a short
    * document quoted inside a long one, which symmetric Jaccard dilutes
    * below any useful threshold. Same df-capped exploded co-occurrence
    * backbone as ngram_jaccard_pairs (one reused exchange feeds the join
    * sides and the sizes), different final ratio. */
  def containmentPairs(s: SparkSession, dir: String): DataFrame = {
    val (exploded, sizes) = dfCappedPairBackbone(t(s, dir, "documents"))
    pairIntersections(exploded)
      .join(sizes.as("na"), col("id_1") === col("na.doc_id"))
      .join(sizes.as("nb"), col("id_2") === col("nb.doc_id"))
      .withColumn("min_n", least(col("na.n"), col("nb.n")))
      .withColumn("containment_bp",
        expr("inter * 10000 div min_n"))
      .filter(col("containment_bp") >= 9000)
      .select("id_1", "id_2", "inter", "min_n", "containment_bp")
      .orderBy(col("id_1"), col("id_2"))
  }

  /** Near-subset document pruning — the "quoted in full" dedup case
    * pairwise Jaccard misses: a document whose (df-capped) shingle set is
    * >= 90% contained in an EARLIER document is flagged droppable, with
    * its best containing doc (highest containment, ties to the smallest
    * id). Directional containment over the same df-capped backbone as
    * containment_pairs — the denominator is the LATER doc's own set, so
    * a short full quote inside a long original is caught even though
    * their symmetric Jaccard is tiny. */
  def subsetDocs(s: SparkSession, dir: String): DataFrame = {
    val (exploded, sizes) = dfCappedPairBackbone(t(s, dir, "documents"))
    pairIntersections(exploded)
      .join(sizes.as("nb"), col("id_2") === col("nb.doc_id"))
      .withColumn("cont_bp", expr("inter * 10000 div n"))
      .filter(col("cont_bp") >= 9000)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("id_2"))
          .orderBy(col("cont_bp").desc, col("id_1").asc)))
      .filter(col("__rn") === 1)
      .select(col("id_2").as("doc_id"), col("id_1").as("contained_in"),
        col("inter"), col("cont_bp"))
      .orderBy(col("doc_id"))
  }

  /** The prefix-filtered (PPJoin-family) formulation of ngram_jaccard_pairs
    * — the scale path, pinned by the exact same oracle SQL, run with the
    * df cap active so the capped candidate generation is oracle-covered. */
  def jaccardPpjoin(s: SparkSession, dir: String): DataFrame =
    Jaccard.pairs(t(s, dir, "documents"), "doc_id", "text", minBp = 8000L,
      maxDf = NgramMaxDf)
      .orderBy(col("id_1"), col("id_2"))

  /** Prefix-filtered formulation of containment_pairs (the scale path: the
    * constrained smaller side probes with its rarity-ordered prefix instead
    * of joining full x full) — pinned by the exact same oracle SQL.
    *
    * Knob pin (positional=on, collapse=on — the defaults), re-adjudicated
    * round 17 on BOTH corpus shapes (BENCHSCALE round-17 matrix): on the
    * sibling-LIGHT 100x blowup the pin pays ~1.4x over the best fixed
    * combo (68.3 vs 48.7 s for collapse=off), but on the sibling-HEAVY
    * 500k template corpus collapse=off is catastrophic — 428-588 s vs
    * 10-13 s collapsed, the C(m,2) verification blowup the collapse
    * exists to prevent — so the insurance stays pinned: a bounded
    * ~1.4x on the shape that doesn't need it buys off a measured ~34x
    * on the shape that does. Callers who KNOW their corpus is
    * sibling-free should pass collapseSiblings = false; unknown corpora
    * should use [[graft.dedup.Containment.pairsAuto]], whose pair-mass
    * probe picks the right side of that trade by measurement (12.05 s
    * on the template corpus, 44.6 s on the blowup — at or near the best
    * fixed combo on BOTH shapes). */
  def containmentPpjoin(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Containment.pairs(t(s, dir, "documents"), "doc_id", "text",
      minBp = 9000L, maxDf = NgramMaxDf)
      .orderBy(col("id_1"), col("id_2"))

  /** Prefix-filtered formulation of subset_docs — same oracle as
    * subset_docs. Runs the PLAIN direction-aware plan
    * (`collapseSiblings = false`): the test corpora carry no
    * set-identical documents, so the later-doc prefix probes earlier
    * docs directly with no collapse window and no membership expansion
    * (the r14 collapse cost +41% warm here as pure insurance). Template-
    * heavy corpora use [[graft.dedup.Containment.subsetsAuto]], whose
    * distinct-set probe buys the collapsed plan exactly when siblings
    * exist — the probe itself re-runs the shingling lineage, which at
    * THIS scale costs more than the whole query (measured: plain 1.8 s,
    * auto 3.8 s warm), while at blowup scale it is linear noise against
    * the C(m,2) hazard it prevents (TemplateRehearsal measures both). */
  def subsetPpjoin(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Containment.subsets(t(s, dir, "documents"), "doc_id", "text",
      minBp = 9000L, maxDf = NgramMaxDf, collapseSiblings = false)
      .orderBy(col("doc_id"))

  /** IVF ANN top-k at nprobe < nlist — the list-partitioned scale path for
    * cosine_topk (each query scans nprobe/nlist of the corpus instead of all
    * of it). Build and search are fully deterministic (centroids = quantized
    * vectors of the nlist smallest ids refined by ONE Lloyd iteration with
    * exact integer floor means, integer dots, fixed tie-breaks), so the
    * DuckDB oracle replays the identical pipeline — including the
    * refinement round — and the approximate result is hash-pinned, not just
    * rows-counted. */
  def ivfTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val index = IVF.build(emb, "vec_id", "embedding", nlist = 16, iters = 1)
    IVF.search(index, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
      k = 10, nprobe = 4)
      .orderBy(col("query_id"), col("rank"))
  }

  /** All-vectors k-NN graph through the IVF probe path — the neighbor
    * structure every graph-based curation step (mutual-kNN clustering,
    * graph dedup, diversity sampling) starts from. Each vector is its own
    * query: probe the nprobe nearest lists, exact integer dots within
    * them, keep top-5. Cost is |corpus| x nprobe/nlist of the corpus —
    * the all-pairs n^2 never materializes — and the index side is
    * pre-partitioned by list id, so at cluster scale each probe join is
    * list-local. Fully deterministic, so the oracle replays build,
    * probe, and ranking and the whole graph is hash-pinned. */
  def knnGraph(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val index = IVF.build(emb, "vec_id", "embedding", nlist = 16, iters = 1)
    IVF.search(index, emb, "vec_id", "embedding", k = 5, nprobe = 4)
      .select(col("query_id").as("vec_id"), col("neighbor_id"), col("dot"),
        col("rank"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** [[knnGraph]] at nlist = 64 — the index-sizing knob MEASURED rather
    * than asserted: all-queries candidate work is n * nprobe/nlist of the
    * corpus, so growing nlist with n (the standard ~sqrt(n) IVF sizing)
    * is what keeps the kNN-graph build linear; this entry pins the
    * 64-list index correct (hash-matched through the same replayed
    * chain) and BENCHSCALE.md records the speedup against the
    * deliberately-pinned 16-list entry. */
  def knnGraphScaled(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val index = IVF.build(emb, "vec_id", "embedding", nlist = 64, iters = 1)
    IVF.search(index, emb, "vec_id", "embedding", k = 5, nprobe = 4)
      .select(col("query_id").as("vec_id"), col("neighbor_id"), col("dot"),
        col("rank"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** Mutual-kNN clustering: keep an edge only where BOTH endpoints rank
    * each other in their top-5 ([[knnGraph]]'s reciprocity filter — the
    * standard trick that kills hub-induced chains), then connected
    * components over the mutual graph. Output: every vector incident to a
    * mutual edge with its cluster id (= min reachable vec_id). */
  def knnClusters(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val index = IVF.build(emb, "vec_id", "embedding", nlist = 16, iters = 1)
    val knn = IVF.search(index, emb, "vec_id", "embedding", k = 5, nprobe = 4)
      .select(col("query_id"), col("neighbor_id"))
    val mutual = knn.as("a").join(knn.as("b"),
        col("a.query_id") === col("b.neighbor_id") &&
          col("a.neighbor_id") === col("b.query_id"))
      .filter(col("a.query_id") < col("a.neighbor_id"))
      .select(col("a.query_id").as("id_1"), col("a.neighbor_id").as("id_2"))
    ConnectedComponents.run(mutual, "id_1", "id_2")
      .select(col("node").as("vec_id"), col("component"))
      .orderBy(col("vec_id"))
  }

  def cosineTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(
      emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id", "dot", "rank")
      .orderBy(col("query_id"), col("rank"))
  }

  /** Recall@k quality gate for the ANN path: per query, how many of the
    * exact brute-force top-k the refined IVF search recovered, at TWO
    * probe widths (4/16 and 6/16) from one index build — the quality curve
    * a pipeline reads before picking its scan fraction. This is the
    * measurement a pipeline runs before trusting an ANN index at scale;
    * both legs are deterministic (including the spherical Lloyd round), so
    * the recall numbers themselves are hash-pinned by the oracle, not just
    * eyeballed. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val index = IVF.build(emb, "vec_id", "embedding", nlist = 16, iters = 1)
    val exact = cosineTopK(s, dir).select(col("query_id"), col("neighbor_id"))
    val k = exact.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
    def leg(nprobe: Int): DataFrame = {
      val approx = IVF
        .search(index, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 10, nprobe = nprobe)
        .select(col("query_id"), col("neighbor_id"))
      val matched = exact
        .join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_match"))
      k.join(matched, Seq("query_id"), "left")
        .select(col("query_id"), lit(nprobe.toLong).as("nprobe"), col("k"),
          coalesce(col("n_match"), lit(0L)).as("n_match"))
        .withColumn("recall_bp", expr("n_match * 10000 div k"))
    }
    leg(4).unionByName(leg(6)).orderBy(col("query_id"), col("nprobe"))
  }

  def embeddingNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.lshNearDuplicates(t(s, dir, "embeddings"), "vec_id", "embedding", 400000L)
      .orderBy(col("id_1"), col("id_2"))

  /** Product-quantization ADC top-k — the compressed-corpus scale path for
    * cosine_topk: 8 subspaces x 16 codewords over the 64-dim embeddings
    * (one Lloyd round, exact integer floor means), corpus reduced to 8
    * small codes per vector, queries scored via per-subspace LUTs. Fully
    * deterministic, so the DuckDB oracle replays codebook training,
    * encoding, and ADC scoring and the approximate ranks hash-match. */
  /** Hard-negative mining for contrastive retrieval training: for each
    * probe vector, the top-k most-similar vectors of a DIFFERENT label —
    * the highest-loss negatives a metric-learning run wants in its
    * batches. Mined through the IVF probe path (nprobe/nlist of the
    * corpus per query, never a full scan), with the class filter applied
    * BEFORE the rank window so negatives beyond a same-class cluster
    * still surface. The label join is one hash exchange of the candidate
    * slice; a production index would carry the label as a code column to
    * skip even that. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val idx = IVF.build(emb, "vec_id", "embedding", nlist = 16, iters = 1)
    val labels = emb.select(col("vec_id").as("__id"), col("label"))
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("label").as("__qlab"),
        call_function("graft_quantize", col("embedding")).as("__qv"))
    val centScores = idx.centroids.zipWithIndex.map { case (c, i) =>
      struct(call_function("graft_qdot", col("__qv"), array(c.map(lit): _*)).as("s"),
        lit(i).as("l"))
    }
    val probed = q
      .withColumn("__probe",
        slice(reverse(array_sort(array(centScores: _*))), 1, 4))
      .select(col("query_id"), col("__qlab"), col("__qv"),
        explode(col("__probe.l")).as("__list"))
    val cand = probed.join(idx.assigned, "__list")
      .join(labels, "__id")
      .filter(col("label") =!= col("__qlab"))
      .select(col("query_id"), col("__id").as("neighbor_id"),
        call_function("graft_qdot", col("__qv"), col("__v")).as("dot"))
    // class filter BEFORE ranking (unchanged), but the label payload is
    // re-attached to the queries x k winner sliver AFTER it, so ranking
    // rides the graft_topk bounded aggregate — an IVF list holding a
    // corpus-scale hot cluster contributes O(k) aggregate state instead
    // of a window partition's sort
    Similarity.topKPerQuery(cand, "dot", 10)
      .join(labels.withColumnRenamed("__id", "neighbor_id"), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("label"), col("dot"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The composed production ANN index — IVF list pruning over PQ
    * residual codes (FAISS's IVFPQ shape): coarse assign, integer
    * residual, PQ-encode; search decomposes <q,v> ~= <q, c_list> +
    * ADC(q, codes), shortlists by the approximation inside the nprobe
    * probed lists, and exact-reranks the shortlist. One corpus exchange
    * at build, broadcast query side, codegen'd ADC scan over
    * nprobe/nlist of the compressed codes — each leg already proven by
    * ivf_topk and pq_topk; this entry pins their composition. */
  def ivfpqTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val idx = IVFPQ.build(emb, "vec_id", "embedding", nlist = 16, m = 8, ksub = 16)
    IVFPQ.search(idx, emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, nprobe = 4, shortlist = 50)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Recall@10 of the IVF-PQ shortlist+rerank path against the exact
    * brute-force top-k — the quality gate for the composed index
    * (symmetric to ann_recall for IVF alone and pq_recall for PQ alone).
    * The losses compound (probe misses + ADC misranking), which is
    * exactly why the composition needs its own gate. */
  def ivfpqRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val exact = cosineTopK(s, dir).select(col("query_id"), col("neighbor_id"))
    val k = exact.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
    val idx = IVFPQ.build(emb, "vec_id", "embedding", nlist = 16, m = 8, ksub = 16)
    val approx = IVFPQ
      .search(idx, emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, nprobe = 4, shortlist = 50)
      .select(col("query_id"), col("neighbor_id"))
    val matched = exact
      .join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_match"))
    k.join(matched, Seq("query_id"), "left")
      .select(col("query_id"), col("k"),
        coalesce(col("n_match"), lit(0L)).as("n_match"))
      .withColumn("recall_bp", expr("n_match * 10000 div k"))
      .orderBy(col("query_id"))
  }

  /** ADC distortion report for the PQ index — the number a pipeline reads
    * to size m/ksub: per query, the mean and max absolute error between
    * the ADC approximation and the exact integer dot over EVERY corpus
    * vector. ONE corpus scan computes encode, ADC, and the exact dot
    * side by side (queries with their LUTs broadcast), so the report
    * costs the same as a brute-force probe pass; all integer, floor-div
    * mean, hash-pinned. */
  def pqDistortion(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cb = PQ.train(emb, "vec_id", "embedding", m = 8, ksub = 16, iters = 1)
    val base = emb.select(col("vec_id").as("neighbor_id"),
        call_function("graft_quantize", col("embedding")).as("__cv"))
      .withColumn("__codes",
        call_function("graft_pq_encode", col("__cv"), cb.flatLit, lit(8), lit(16)))
    val qs = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"),
        call_function("graft_quantize", col("embedding")).as("__qv"))
      .withColumn("__lut",
        call_function("graft_pq_lut", col("__qv"), cb.flatLit, lit(8), lit(16)))
    base.crossJoin(broadcast(qs))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"),
        abs(call_function("graft_pq_adc", col("__codes"), col("__lut"), lit(16))
          - call_function("graft_qdot", col("__qv"), col("__cv"))).as("err"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n"), sum(col("err")).as("__se"),
        max(col("err")).as("max_abs_err"))
      .select(col("query_id"), col("n"),
        expr("__se div n").as("mean_abs_err"), col("max_abs_err"))
      .orderBy(col("query_id"))
  }

  def pqTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cb = PQ.train(emb, "vec_id", "embedding", m = 8, ksub = 16, iters = 1)
    val codes = PQ.encode(cb, emb, "vec_id", "embedding")
    PQ.search(cb, codes, emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Recall@10 of the PQ shortlist+rerank pipeline against the exact
    * brute-force top-k — the quality gate a pipeline reads before trusting
    * the 32x-compressed index (symmetric to ann_recall for IVF and
    * lsh_recall for banding). Gates the PRODUCTION shape — ADC
    * shortlist@100 then exact rerank — not raw ADC@10 (whose ~0.40 recall
    * on near-random embeddings is exactly why real systems rerank). */
  def pqRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val exact = cosineTopK(s, dir).select(col("query_id"), col("neighbor_id"))
    val k = exact.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
    val cb = PQ.train(emb, "vec_id", "embedding", m = 8, ksub = 16, iters = 1)
    val codes = PQ.encode(cb, emb, "vec_id", "embedding")
    val approx = PQ
      .searchRerank(cb, codes, emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 10, shortlist = 100)
      .select(col("query_id"), col("neighbor_id"))
    val matched = exact
      .join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_match"))
    k.join(matched, Seq("query_id"), "left")
      .select(col("query_id"), col("k"),
        coalesce(col("n_match"), lit(0L)).as("n_match"))
      .withColumn("recall_bp", expr("n_match * 10000 div k"))
      .orderBy(col("query_id"))
  }

  /** Binary-quantized Hamming top-k — the memory-lean rung below PQ: one
    * sign bit per dimension, 64-dim vectors packed to 2 longs, searched by
    * XOR+popcount. Both encode and distance are native codegen'd kernels
    * (graft_bq_encode / graft_hamming) and pure integer, so codes and
    * ranks hash-match the DuckDB bit-packing replay exactly. */
  def bqTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val codes = BQ.encode(emb, "vec_id", "embedding")
    BQ.search(codes, emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Recall@10 of the BQ shortlist+rerank pipeline against the exact
    * brute-force top-k — the accuracy gate for the 1-bit index (symmetric
    * to pq_recall). Gates the PRODUCTION shape: Hamming shortlist@100 over
    * the packed codes, exact integer-dot rerank — raw Hamming@10 recall is
    * structurally weak at 1 bit/dim, which is exactly why the rerank
    * exists. */
  def bqRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val exact = cosineTopK(s, dir).select(col("query_id"), col("neighbor_id"))
    val k = exact.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
    val codes = BQ.encode(emb, "vec_id", "embedding")
    val approx = BQ
      .searchRerank(codes, emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 10, shortlist = 100)
      .select(col("query_id"), col("neighbor_id"))
    val matched = exact
      .join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_match"))
    k.join(matched, Seq("query_id"), "left")
      .select(col("query_id"), col("k"),
        coalesce(col("n_match"), lit(0L)).as("n_match"))
      .withColumn("recall_bp", expr("n_match * 10000 div k"))
      .orderBy(col("query_id"))
  }

  /** SemDeDup-style semantic dedup: IVF-cluster the embeddings, drop every
    * vector with a smaller-id twin scoring >= the threshold inside its
    * cluster. The within-cluster self-join is the whole cost — quadratic
    * per cluster, never corpus-wide — and both the clustering and the
    * integer scoring are deterministic, so keep/drop verdicts hash-match
    * the DuckDB replay. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame =
    SemanticDedup.prune(t(s, dir, "embeddings"), "vec_id", "embedding",
      nlist = 16, minDot = 400000L)
      .orderBy(col("vec_id"))

  /** Integer-exact unigram-LM quality signal: token surprisal measured in
    * whole bits as bitlen(total_tokens) - bitlen(token_count) — i.e.
    * floor(log2) differences, no floating point, so the per-document sums
    * hash-match across engines. High millibits/token flags rare-token
    * gibberish; low flags boilerplate. Physical shape: one exchange to
    * count the vocabulary, reused by the token join (the aggregate output
    * is already partitioned on token), one exchange back on doc id; the
    * 1-row total joins via crossJoin(broadcast) and is computed as
    * sum(size(tokens)) — same number as sum(vocab counts) from one cheap
    * column scan, with no explode and no second vocabulary aggregation.
    * At web scale the vocab join can swap to broadcast(top-V) + OOV
    * default without changing the declared semantics. */
  def unigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = t(s, dir, "documents")
      .agg(sum(size(split(col("text"), " ")).cast(LongType)).as("total"))
    toks.join(vocab, "tok")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (length(bin(col("total"))) - length(bin(col("cnt")))).cast(LongType).as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("surprisal_bits"))
      .withColumn("millibits_per_token", expr("surprisal_bits * 1000 div n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** DSIR-style importance scores (Data Selection via Importance
    * Resampling, Xie et al. 2023): score every document by how much its
    * unigram distribution resembles a TARGET slice (here lang='en', the
    * high-resource recipe target) versus the whole corpus. Per token the
    * likelihood ratio p_target/p_corpus is computed in exact fixed-point
    * millis with Laplace add-1 smoothing over the corpus vocabulary V —
    * ratio_millis = ((cnt_t+1) * total_c * 1000) div (cnt_c * (total_t+V))
    * — and the doc score is the sum of centered deviations
    * (ratio_millis - 1000). A bit-length log2 (the surprisal family's
    * integer log) is too coarse here: the synthetic corpus's vocabulary is
    * near-uniform across languages, true log-ratios are under 0.1 bits,
    * and every weight rounds to exactly 0 — measured, which is why this
    * query scores in linear ratio space (on-target docs land positive,
    * off-target negative; +89 vs -65..-158 mean by language at sf0.01).
    * The resampling step keeps docs by score-biased hash rank; this query
    * emits the corpus-global part. The per-token rate uses the
    * pmod-subtract floor form (Spark `div` truncates, DuckDB `//` floors —
    * that form is floor on BOTH engines, sign-safe for negative sums).
    * Scale: two vocab aggregates + one vocab join, the unigram_surprisal
    * shape; web-scale swaps the vocab join for broadcast(top-V) + OOV
    * default, and mod-reduces counts before the millis product. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val toks = d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val corpusCnt = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt_c"))
    val targetToks = d.filter(col("lang") === "en")
      .select(explode(split(col("text"), " ")).as("tok"))
    val targetCnt = targetToks.groupBy(col("tok")).agg(count(lit(1)).as("cnt_t"))
    val totals = corpusCnt
      .agg(sum(col("cnt_c")).as("total_c"), count(lit(1)).as("vocab"))
      .crossJoin(targetToks.agg(count(lit(1)).as("total_t")))
    toks.join(corpusCnt, "tok")
      .join(targetCnt, Seq("tok"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        (expr("""((coalesce(cnt_t, 0L) + 1) * total_c * 1000)
                | div (cnt_c * (total_t + vocab))""".stripMargin) - 1000L)
          .as("dev"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("dev")).as("score_millis"))
      .withColumn("millis_per_token",
        expr("""(score_millis * 1000 - pmod(score_millis * 1000, n_tokens))
               | div n_tokens""".stripMargin))
      .orderBy(col("doc_id"))
  }

  /** DSIR importance RESAMPLING — the selection step the dsir_weights
    * scores feed: keep the highest millis-per-token docs until a token
    * budget is filled. Scalable threshold selection, NOT a global sort of
    * the corpus: the per-weight token histogram (bounded by distinct
    * weight values, KBs) is cumulated once on the driver side of a
    * broadcast, docs in buckets wholly under budget are admitted with a
    * hash-join against that tiny table, and only the single budget-
    * crossing bucket pays an admission prefix-sum — range-sharded via
    * [[graft.operators.ShardedPrefix]] so even a mega-bucket never sorts
    * in one task; same `cum <= budget` convention as token_budget_mix. */
  def dsirResample(s: SparkSession, dir: String): DataFrame = {
    val B = 8000L
    // truncate: the histogram and the admission join both consume the DSIR
    // scores — without truncation the scoring pipeline executes twice
    val w = Lineage.truncate(dsirWeights(s, dir)
      .select(col("doc_id"), col("n_tokens"), col("millis_per_token").as("wgt")))
    val hist = w.groupBy(col("wgt")).agg(sum(col("n_tokens")).as("bt"))
    // histogram window: unpartitioned but over distinct weight VALUES only
    val cum = hist
      .withColumn("cum", sum(col("bt")).over(Window.orderBy(col("wgt").desc)))
      .withColumn("cum_before", col("cum") - col("bt"))
    val joined = w.join(broadcast(cum), "wgt")
    val full = joined.filter(col("cum") <= B)
    // the crossing bucket's admission prefix-sum is range-sharded on
    // doc_id (ShardedPrefix), so even a bucket holding a large corpus
    // fraction — many docs share one weight value — never sorts in a
    // single task. The shard bounds come from a column-stats scan of the
    // base table (loose bounds only cost shard balance, never
    // correctness), NOT a min/max over the scored frame — that would
    // re-run the whole DSIR scoring pipeline a second time
    val idBounds = t(s, dir, "documents")
      .agg(min(col("doc_id")), max(col("doc_id"))).head()
    // empty (or fully filtered) table -> null bounds; any valid range
    // works because the frame being ranked is empty too
    val (bLo, bHi) =
      if (idBounds.isNullAt(0)) (0L, 0L)
      else (idBounds.getLong(0), idBounds.getLong(1))
    val crossing = graft.operators.ShardedPrefix
      .withRankAndSum(joined.filter(col("cum") > B && col("cum_before") < B),
        Seq("wgt"), "doc_id", "doc_id",
        rankName = "__rank", sumCol = Some("n_tokens"), cumName = "c2",
        orderRange = Some((bLo, bHi)))
      .filter(col("c2") <= lit(B) - col("cum_before"))
      .drop("c2", "__rank")
    full.unionByName(crossing)
      .select(col("doc_id"), col("wgt").as("millis_per_token"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Bigram (conditional) surprisal — the sequence-aware complement of
    * `unigram_surprisal`: per bigram occurrence,
    * bits ~ log2(cnt(prev) / cnt(prev, tok)) computed as the bit-length
    * difference of exact integer counts (cnt(prev) counts PREFIX
    * occurrences, i.e. rows of the bigram table, so cnt_prev >= cnt_bi and
    * bits >= 0 always). Catches locally-incoherent text — rare token
    * TRANSITIONS — that a unigram model scores as fluent. Docs under 2
    * tokens have no bigrams and are excluded on both engines. Scale: one
    * exchange for the bigram vocabulary, one for the prefix counts, one
    * per-doc aggregate; a web-scale run would broadcast the top-V bigram
    * table and default the tail, same note as unigram_surprisal. */
  def bigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val bi = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
      // sequence(2, n) would run DESCENDING for n < 2 — hence the filter
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(2), size(col("tk")))).as("i"))
      .select(col("doc_id"),
        element_at(col("tk"), col("i") - 1).as("prev"),
        element_at(col("tk"), col("i")).as("tok"))
    val prevCnt = bi.groupBy(col("prev")).agg(count(lit(1)).as("cnt_prev"))
    val biCnt = bi.groupBy(col("prev"), col("tok")).agg(count(lit(1)).as("cnt_bi"))
    bi.join(biCnt, Seq("prev", "tok"))
      .join(prevCnt, Seq("prev"))
      .select(col("doc_id"),
        (length(bin(col("cnt_prev"))) - length(bin(col("cnt_bi"))))
          .cast(LongType).as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("surprisal_bits"))
      .withColumn("millibits_per_bigram",
        expr("surprisal_bits * 1000 div n_bigrams"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style perplexity buckets: the corpus split into head/middle/
    * tail thirds by LM fluency (bigram-surprisal millibits; lower =
    * more predictable = head). Scale-correct tertiles: the cutoffs come
    * from the SCORE HISTOGRAM — distinct integer scores, a tiny table —
    * cumulated in score order and broadcast back as two scalars, so the
    * corpus is never globally sorted and the only full-width exchanges
    * are the surprisal aggregates themselves. Equal scores share a
    * bucket by construction (threshold semantics, the CCNet form), so
    * the split is deterministic on any partitioning. */
  def pplBuckets(s: SparkSession, dir: String): DataFrame = {
    // truncate: the histogram, the total, and the final bucketing all
    // consume the surprisal scores — without truncation the pipeline
    // executes 3x
    val scores = Lineage.truncate(bigramSurprisal(s, dir)
      .select(col("doc_id"), col("millibits_per_bigram").as("mbpb")))
    val hist = scores.groupBy(col("mbpb")).agg(count(lit(1)).as("__c"))
    // the window input is the histogram (O(distinct scores)), not the corpus
    val w = Window.orderBy(col("mbpb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("__cum", sum(col("__c")).over(w))
    val tot = scores.agg(count(lit(1)).as("__n"))
    val cuts = cum.crossJoin(broadcast(tot)).agg(
      min(when(col("__cum") * 3 >= col("__n"), col("mbpb"))).as("__t1"),
      min(when(col("__cum") * 3 >= col("__n") * 2, col("mbpb"))).as("__t2"))
    scores.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("mbpb").as("millibits_per_bigram"),
        when(col("mbpb") <= col("__t1"), "head")
          .when(col("mbpb") <= col("__t2"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Kneser-Ney-smoothed bigram surprisal — the LM-quality score one rung
    * above raw conditional counts: absolute discounting (d = 0.75) plus
    * the continuation-probability backoff, so bigrams with a rare RIGHT
    * word in a common context stop looking fluent. All probabilities are
    * fixed-point millionths with floor division at every step —
    * p_mil = max(100*c12 - 75, 0)*10000 div c1
    *       + (750000*N1L(w1) div c1) * (N1R(w2)*1e6 div N1all) div 1e6 —
    * and the bit cost is 20 - bitlength(p_mil) (bin()-string, identical
    * in both engines), so the DuckDB oracle replays smoothing exactly.
    * Scale shape mirrors bigram_surprisal: counts are two map-side-
    * combined vocab aggregates; the instance joins are bigram-vocab
    * bounded (broadcast top-V + OOV default at web scale). */
  def knBigramBits(s: SparkSession, dir: String): DataFrame = {
    val bi = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(2), size(col("tk")))).as("i"))
      .select(col("doc_id"),
        element_at(col("tk"), col("i") - 1).as("prev"),
        element_at(col("tk"), col("i")).as("tok"))
    val biCnt = bi.groupBy(col("prev"), col("tok"))
      .agg(count(lit(1)).as("c12"))
    val leftStats = biCnt.groupBy(col("prev"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1l"))
    val rightStats = biCnt.groupBy(col("tok")).agg(count(lit(1)).as("n1r"))
    val total = biCnt.agg(count(lit(1)).as("n1all"))
    bi.join(biCnt, Seq("prev", "tok"))
      .join(leftStats, Seq("prev"))
      .join(rightStats, Seq("tok"))
      .crossJoin(broadcast(total))
      .withColumn("p_mil", expr(
        "(greatest(100L * c12 - 75L, 0L) * 10000L) div c1" +
          " + ((750000L * n1l div c1) * (n1r * 1000000L div n1all)) div 1000000L"))
      .withColumn("bits",
        when(col("p_mil") > 0L,
          greatest(lit(20L) - length(bin(col("p_mil"))).cast(LongType), lit(0L)))
          .otherwise(21L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("kn_bits"))
      .withColumn("millibits_per_bigram", expr("kn_bits * 1000 div n_bigrams"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic training-order shuffle + sharding: every document gets a
    * pseudo-random rank from the shared multiplicative hash, lands in
    * shard = hash mod numShards, and takes its position from the per-shard
    * rank order — reproducible on any engine or partitioning. Scale note:
    * each shard's position window sorts one shard on one task, so the
    * shard count grows with the corpus (shards ≈ output files of a few GB
    * each); the hash rank keys a production run would take from
    * xxhash64(content) instead of the id-multiplicative form the oracle
    * can replay. The id is reduced mod P BEFORE the multiply (as
    * MinHash.minhash does) so the product stays in Long/BIGINT range — and
    * the hash stays engine-agnostic — for ids up to 2^63, not just 2^32. */
  def shuffleShards(s: SparkSession, dir: String): DataFrame = {
    val shards = 16
    t(s, dir, "documents")
      .select(col("doc_id"),
        expr(s"(doc_id % ${Hashing.P}L * ${Hashing.TokenHashB}L) % ${Hashing.P}L").as("h"))
      .withColumn("shard", pmod(col("h"), lit(shards.toLong)))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))).cast(LongType))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Token-budget domain mixing — real mixes are specified in TOKENS, not
    * document counts: per source, documents are admitted in hash-rank
    * order until the cumulative token count exceeds the source's budget.
    * The running sum is [[graft.operators.ShardedPrefix]]'s distributed
    * prefix sum over the uniform hash order, so a mega-source never sorts
    * in one task; membership is deterministic on any engine or
    * partitioning because the rank order and the token counts are both
    * exact integers. */
  def tokenBudgetMix(s: SparkSession, dir: String): DataFrame =
    tokenBudgetMixFrom(t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        Text.tokenCount(col("text")).cast(LongType).as("n_tokens")))

  /** The admission body over any `(doc_id, source, n_tokens)` frame —
    * counter pluggable, same as [[tokenPackFrom]]. */
  private def tokenBudgetMixFrom(counts: DataFrame): DataFrame = {
    val budget = when(col("source").isin("src0", "src1"), 1000L).otherwise(400L)
    val base = counts.withColumn("h",
      expr(s"(doc_id % ${Hashing.P}L * ${Hashing.TokenHashA}L) % ${Hashing.P}L"))
    graft.operators.ShardedPrefix
      .withRankAndSum(base, Seq("source"), "h", "doc_id",
        rankName = "__rank", sumCol = Some("n_tokens"), cumName = "cum",
        orderRange = Some((0L, Hashing.P - 1)))
      .filter(col("cum") <= budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum"))
      .orderBy(col("source"), col("cum"))
  }

  /** [[tokenBudgetMix]] denominated in REAL BPE tokens (the trained
    * merge table re-applied via [[graft.text.BPE.tokenCounts]]): the
    * per-source budgets admit what a tokenizer would actually count, so
    * a source of short words no longer reads as cheaper than it is. */
  def tokenBudgetMixBpe(s: SparkSession, dir: String): DataFrame = {
    val counts = BPE.tokenCounts(t(s, dir, "documents"), "doc_id", "text",
      trainedMerges(s, dir), outCol = "n_tokens")
    tokenBudgetMixFrom(t(s, dir, "documents")
      .select(col("doc_id"), col("source")).join(counts, "doc_id"))
  }

  /** Temperature-based mixing (tau = 2, i.e. alpha = 1/2): each source's
    * token budget is B * sqrt(N_s) / sum_t sqrt(N_t) — the standard
    * multilingual-recipe resampling that upweights small sources without
    * letting the largest dominate. The budgets come FROM the data (one
    * tiny per-source aggregate, broadcast back), then admission is the
    * same hash-rank running-sum window as token_budget_mix.
    *
    * Engine-exactness note: the normalizer is a SUM OF DOUBLES, and float
    * addition is not associative — a parallel partial-agg could differ
    * from DuckDB's sequential sum in the last ulp. So the fold is made
    * order-deterministic on both engines: collect the per-source sqrt
    * terms, sort by source name, and fold sequentially (Spark
    * `aggregate(array_sort(...))`, DuckDB `list_reduce(list(... ORDER BY
    * source))`) — bit-identical IEEE result, hash-pinned like everything
    * else. Scale: the fold is over #sources (tiny); docs shuffle once for
    * the sharded prefix sum, same as token_budget_mix — no whole-source
    * sort in any task. */
  def temperatureMix(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        Text.tokenCount(col("text")).cast(LongType).as("n_tokens"),
        expr(s"(doc_id % ${Hashing.P}L * ${Hashing.TokenHashA}L) % ${Hashing.P}L").as("h"))
    val sizes = docs.groupBy(col("source")).agg(sum(col("n_tokens")).as("n_src"))
    val z = sizes.agg(
      aggregate(
        array_sort(collect_list(struct(col("source"), col("n_src")))),
        lit(0.0),
        (acc, x) => acc + sqrt(x.getField("n_src").cast(DoubleType))).as("z"))
    val budgets = sizes.crossJoin(broadcast(z))
      .select(col("source"),
        floor(lit(5000.0) * sqrt(col("n_src").cast(DoubleType)) / col("z"))
          .cast(LongType).as("budget"))
    graft.operators.ShardedPrefix
      .withRankAndSum(docs.join(broadcast(budgets), "source"),
        Seq("source"), "h", "doc_id",
        rankName = "__rank", sumCol = Some("n_tokens"), cumName = "cum",
        orderRange = Some((0L, Hashing.P - 1)))
      .filter(col("cum") <= col("budget"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum"), col("budget"))
      .orderBy(col("source"), col("cum"))
  }

  /** Incremental cross-corpus dedup (the crawl-refresh shape): docs with
    * id >= 250 are the "new batch", the rest the already-curated
    * reference; a new doc survives unless it exactly fingerprints or LSH-
    * band-collides (verified at >= 0.8 exact Jaccard) against the
    * reference. Both guards are one-sided joins — the reference is never
    * self-joined or re-deduplicated. */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Incremental.survivors(
      docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
      "doc_id", "text", minBp = 8000L)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic epoch upsampling — the >1-epoch complement of
    * domain_mix's quota subsampling: each source gets an epoch factor in
    * basis points (32500 = 3.25 epochs); every document emits
    * floor(epochs) copies plus one more iff its hash rank falls below the
    * fractional part. Row-local + explode: the only data growth is the
    * output itself (epochs x corpus), there is no shuffle before the
    * ordered emission, and membership in the fractional epoch is
    * hash-deterministic on any engine or partitioning. */
  def epochUpsample(s: SparkSession, dir: String): DataFrame = {
    val rate = when(col("source").isin("src0", "src1"), 32500L)
      .when(col("source").isin("src2", "src3"), 20000L)
      .otherwise(10000L)
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"), rate.as("rate_bp"),
        expr(s"(doc_id % ${Hashing.P}L * ${Hashing.TokenHashB}L) % ${Hashing.P}L % 10000").as("h"))
      .withColumn("n_copies",
        expr("rate_bp div 10000") + when(col("h") < expr("rate_bp % 10000"), 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy_id"))
      .orderBy(col("doc_id"), col("copy_id"))
  }

  /** Corpus-global exact span dedup (C4-style): 32-token chunks, corpus-
    * wide keep-first on identical chunks, documents re-assembled from the
    * survivors. One exchange on chunk text, one back on doc id. */
  def chunkDedup(s: SparkSession, dir: String): DataFrame =
    ChunkDedup.dedupChunks(t(s, dir, "documents"), "doc_id", "text", chunkTokens = 32)
      .orderBy(col("doc_id"))

  /** Content-defined chunking dedup (see [[ChunkDedup.cdcChunks]]):
    * boundaries keyed on token content, so span dedup survives prefix
    * edits that shift every fixed-width chunk frame. */
  def cdcChunks(s: SparkSession, dir: String): DataFrame =
    ChunkDedup.cdcChunks(t(s, dir, "documents"), "doc_id", "text", divisor = 13)
      .orderBy(col("doc_id"))

  /** Position-level exact substring dedup (see [[SpanDedup.dedupSpans]]):
    * 8-token sliding anchors, corpus-wide keep-first per anchor, redundant
    * spans excised token by token. Catches every repeated span >= 8 tokens
    * regardless of chunk alignment — the suffix-array "ExactSubstr" pass
    * as a group-by. */
  def spanDedup(s: SparkSession, dir: String): DataFrame =
    SpanDedup.dedupSpans(t(s, dir, "documents"), "doc_id", "text", gramTokens = 8)
      .orderBy(col("doc_id"))

  /** A gram occurring more than this many times corpus-wide is boilerplate:
    * [[spanDedupCapped]] excises ALL its occurrences, first included. The
    * production knob mirrors [[NgramMaxDf]] for the shingle-join family;
    * 2 is deliberately low so the testdata exercises the gate (71 grams at
    * sf0.01 exceed it) while keep-first still governs the rest. */
  val SpanGramMaxOcc = 2L

  /** Boilerplate-capped span dedup: same keep-first semantics as
    * [[spanDedup]] for ordinary grams, but a gram seen more than
    * [[SpanGramMaxOcc]] times corpus-wide is template text and every
    * occurrence is excised. At 100 TB this is also the skew release valve —
    * the hot gram collapses in the map-side-combined occurrence count and
    * never rides the join as a keep-first candidate. */
  def spanDedupCapped(s: SparkSession, dir: String): DataFrame =
    SpanDedup.dedupSpans(t(s, dir, "documents"), "doc_id", "text", gramTokens = 8,
        maxGramDf = SpanGramMaxOcc)
      .orderBy(col("doc_id"))

  /** The production span-dedup path: keep-first keyed by xxhash64 of the
    * gram instead of the gram text, so the keep-first exchange ships 8
    * bytes per anchor instead of the ~8-token gram string. Result-identical
    * to [[spanDedup]] (same oracle; a 64-bit collision at corpus scale
    * costs one extra excised span, not a wrong pipeline). */
  def spanDedupHashed(s: SparkSession, dir: String): DataFrame =
    SpanDedup.dedupSpans(t(s, dir, "documents"), "doc_id", "text", gramTokens = 8,
        hashGrams = true)
      .orderBy(col("doc_id"))

  /** Span-level decontamination (see [[SpanDedup.contaminationSpans]]):
    * src0 documents stand in for the benchmark; per training document, the
    * count of token positions inside an 8-gram the benchmark also
    * contains. Localizes contamination that doc-level shingle overlap
    * (`decontaminate`) can only flag wholesale. */
  def contaminationSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    SpanDedup.contaminationSpans(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", gramTokens = 8)
      .orderBy(col("doc_id"))
  }

  /** Point-in-interval range join via bucketized equi-join (never a
    * nested-loop cross product): purchase events matched to the 2-day-gap
    * click session of the same user whose [start, end] span contains them.
    * Intervals explode to day buckets; points own exactly one bucket, so
    * each qualifying pair is emitted once. */
  def rangeJoinSessions(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val sessions = Sessionize.sessions(
      ev.filter(col("event_type") === "click"), Seq("user_id"), "ts", "event_id", 172800L)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
    RangeJoin.pointInInterval(purchases, "ts_us", sessions,
        "session_start_us", "session_end_us", Seq("user_id"), bucketWidth = 86400L * 1000000L)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("session_id"),
        col("session_start_us"), col("session_end_us"), col("n_events"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Interval-overlap join (see [[RangeJoin.intervalOverlap]]): pairs of
    * 2-day-gap click sessions from DIFFERENT users that overlap in time,
    * with the overlap window — concurrency analysis as a bucketized
    * equi-join, never a quadratic interval compare. Each pair is emitted
    * exactly once from the later start's bucket. */
  def intervalOverlapSessions(s: SparkSession, dir: String): DataFrame = {
    // truncate: the session table (a bounded per-user rollup, ~9.5k rows at
    // sf0.1) is BOTH sides of the self-join, and the two sides only share
    // the user_id exchange — the window + rollup + bucket-explode above it
    // re-ran once per side, and the final orderBy's range-partition
    // sampling pass re-ran them again (guide §5: materialize a
    // multiply-consumed sliver; measured −0.4 s warm at sf0.1)
    val sess = Lineage.truncate(Sessionize.sessions(
      t(s, dir, "events").filter(col("event_type") === "click"),
      Seq("user_id"), "ts", "event_id", 172800L))
    val a = sess.select(col("user_id").as("user_1"), col("session_id").as("session_1"),
      col("session_start_us").as("start_1"), col("session_end_us").as("end_1"))
    val b = sess.select(col("user_id").as("user_2"), col("session_id").as("session_2"),
      col("session_start_us").as("start_2"), col("session_end_us").as("end_2"))
    RangeJoin.intervalOverlap(a, "start_1", "end_1", b, "start_2", "end_2",
        bucketWidth = 86400L * 1000000L)
      .filter(col("user_1") < col("user_2"))
      .select(col("user_1"), col("session_1"), col("user_2"), col("session_2"),
        greatest(col("start_1"), col("start_2")).as("overlap_start_us"),
        least(col("end_1"), col("end_2")).as("overlap_end_us"))
      .orderBy(col("user_1"), col("session_1"), col("user_2"), col("session_2"))
  }

  /** Year-over-year customer retention via FULL OUTER join of two distinct
    * key sets (the symmetric-difference shape: retained / churned /
    * acquired). Both legs prune to distinct keys before the join, so the
    * full-outer shuffles key sets, not order rows. */
  def custRetention(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"))
    val a = o.filter(col("y") === 1994).select(col("o_custkey").as("ck")).distinct()
      .withColumn("in_a", lit(true))
    val b = o.filter(col("y") === 1995).select(col("o_custkey").as("ck")).distinct()
      .withColumn("in_b", lit(true))
    a.join(b, Seq("ck"), "full_outer")
      .select(col("ck").as("custkey"),
        when(col("in_a").isNotNull && col("in_b").isNotNull, "retained")
          .when(col("in_a").isNotNull, "churned")
          .otherwise("acquired").as("status"))
      .orderBy(col("custkey"))
  }

  /** Per-nation revenue quartiles: ntile over a PARTITIONED window (one
    * sorted partition per nation — parallel at any scale, unlike a global
    * ntile), rolled up to quartile totals. Deterministic tie-break on the
    * customer key. */
  def nationRevenueQuartiles(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_nationkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast(LongType)).as("cents"))
    rev
      .withColumn("quartile", ntile(4).over(
        Window.partitionBy(col("c_nationkey"))
          .orderBy(col("cents").desc, col("c_custkey"))).cast(LongType))
      .groupBy(col("c_nationkey"), col("quartile"))
      .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("c_nationkey"), col("quartile"))
  }

  // ------------------------------------------------------------- multimodal

  /** Binary-column plumbing: byte length + content hash of an opaque binary
    * payload (the decode step itself is the stubbed part — see
    * graft.multimodal). */
  def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        octet_length(col("text").cast(BinaryType)).cast(LongType).as("n_bytes"),
        sha2(col("text"), 256).as("sha"))
      .orderBy(col("doc_id"))

  /** The fake-codec resize kernel pinned cross-engine: a 4x4x1 payload is
    * synthesized from the first 16 text bytes behind the [w,h,c] header,
    * nearest-neighbor-resized to 2x2 by the mapPartitions operator, and
    * hex-dumped; the oracle replays the exact sample positions in SQL. This
    * makes the multimodal PLUMBING (header layout, decode guard, sampling
    * arithmetic, binary column round-trip) hash-checked even though the
    * production codec stays a stub. */
  def multimodalResize(s: SparkSession, dir: String): DataFrame = {
    // the 16-char prefix must also be 16 BYTES (pure ASCII): the payload is
    // built from UTF-8 bytes while the oracle samples characters, so a
    // multi-byte char in the prefix would silently desynchronize the two —
    // gate on byte length up front (the oracle applies the same predicate)
    val src = t(s, dir, "documents")
      .filter(length(col("text")) >= 16 &&
        octet_length(substring(col("text"), 1, 16)) === 16)
      .select(col("doc_id"),
        concat(unhex(lit("0004000401")),
          substring(col("text"), 1, 16).cast(BinaryType)).as("payload"))
    graft.multimodal.Multimodal.resize(src, "payload", 2, 2)
      .select(col("doc_id"), hex(col("payload")).as("out_hex"))
      .orderBy(col("doc_id"))
  }

  /** Perceptual image dedup pinned cross-engine: the 4x4x1 fake payload
    * (same synthesis and ASCII gate as multimodal_resize) is aHashed —
    * 16 mean-thresholded pixel bits — and documents sharing a phash are
    * flagged duplicate candidates. Image dedup as a group-by, never a
    * pairwise compare; the oracle replays the threshold arithmetic over
    * the same 16 ascii codes. */
  def imagePhash(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "documents")
      .filter(length(col("text")) >= 16 &&
        octet_length(substring(col("text"), 1, 16)) === 16)
      .select(col("doc_id"),
        concat(unhex(lit("0004000401")),
          substring(col("text"), 1, 16).cast(BinaryType)).as("payload"))
    // group-size via aggregate + join-back, not a count window: the
    // aggregate partial-combines, so a corpus-wide boilerplate image
    // (tracking pixel, default avatar) collapses map-side instead of
    // buffering every copy in one window partition
    val hashed = graft.multimodal.Multimodal.phash(src, "payload", bits = 16)
    val counts = hashed.groupBy(col("phash")).agg(count(lit(1)).as("n_same"))
    // null-safe join key: a failed decode yields a null phash, and those
    // rows must stay in the report (the count window this join-back
    // replaced kept them) — a plain equi-join would silently drop them.
    // The catalog's ASCII gate means no nulls HERE; the null-safety is
    // for the operator's contract, not this input.
    hashed.as("h")
      .join(counts.as("c"), expr("h.phash <=> c.phash"))
      .select(col("h.doc_id").as("doc_id"), col("h.phash").as("phash"),
        col("c.n_same").as("n_same"), (col("c.n_same") > 1).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** Video-shaped frame sampling pinned cross-engine: a 6-frame fake
    * "video" is synthesized per document (frame i = 8 ASCII bytes of the
    * text), stride-2 sampled by the posexplode+filter operator, and
    * hex-dumped. Same ASCII byte-length gate as multimodal_resize so the
    * byte/char views can never diverge. */
  def multimodalFrames(s: SparkSession, dir: String): DataFrame = {
    val frames =
      expr("transform(sequence(0, 5), i -> cast(substring(text, i*8+1, 8) as binary))")
    val src = t(s, dir, "documents")
      .filter(length(col("text")) >= 48 &&
        octet_length(substring(col("text"), 1, 48)) === 48)
      .select(col("doc_id"), frames.as("frames"))
    graft.multimodal.Multimodal.frameSample(src, "frames", stride = 2)
      .select(col("doc_id"), col("frame_idx").cast(LongType).as("frame_idx"),
        hex(col("frame")).as("frame_hex"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** The catalog: name -> query. */
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> q1PricingSummary _,
    "q3_top_orders" -> q3TopOrders _,
    "q5_region_join" -> q5RegionJoin _,
    "q6_forecast" -> q6Forecast _,
    "q4_order_priority" -> q4OrderPriority _,
    "q14_brand" -> q14Brand _,
    "q2_min_cost_supp" -> q2MinCostSupp _,
    "q7_nation_volume" -> q7NationVolume _,
    "q9_product_profit" -> q9ProductProfit _,
    "q10_returned_top" -> q10ReturnedTop _,
    "q13_order_dist" -> q13OrderDist _,
    "q17_small_qty" -> q17SmallQty _,
    "q18_big_orders" -> q18BigOrders _,
    "q19_disjunctive" -> q19Disjunctive _,
    "q12_priority_buckets" -> q12PriorityBuckets _,
    "q15_top_supplier" -> q15TopSupplier _,
    "q22_rich_inactive" -> q22RichInactive _,
    "q8_market_share" -> q8MarketShare _,
    "q11_important_parts" -> q11ImportantParts _,
    "q16_supplier_cnt" -> q16SupplierCnt _,
    "q20_excess_suppliers" -> q20ExcessSuppliers _,
    "q21_waiting_suppliers" -> q21WaitingSuppliers _,
    "q1_rollup" -> q1Rollup _,
    "cube_events" -> cubeEvents _,
    "sketch_events" -> sketchEvents _,
    "pivot_events" -> pivotEvents _,
    "unpivot_lineitem" -> unpivotLineitem _,
    "running_revenue" -> runningRevenue _,
    "median_order_cents" -> medianOrderCents _,
    "asof_join" -> asofJoin _,
    "sessionize" -> sessionize _,
    "semi_join_big_spenders" -> semiJoinBigSpenders _,
    "time_bin_hourly" -> timeBinHourly _,
    "dedup_keeplast" -> dedupKeepLast _,
    "dedup_keepfirst" -> dedupKeepFirst _,
    "dedup_exact" -> dedupExact _,
    "intervals_islands" -> intervalsIslands _,
    "anti_join_unseen" -> antiJoinUnseen _,
    "sanitize_ids" -> sanitizeIds _,
    "flatten_nested" -> flattenNested _,
    "time_cascade" -> timeCascade _,
    "dedup_ignorefields" -> dedupIgnoreFields _,
    "extraction_semijoin" -> extractionSemiJoin _,
    "limit_per_group" -> limitPerGroup _,
    "offset_assign" -> offsetAssign _,
    "timestamp_sets" -> timestampSets _,
    "filename_meta" -> filenameMeta _,
    "json_flatten" -> jsonFlatten _,
    "base64_unpadded" -> base64Unpadded _,
    "text_tokens" -> textTokens _,
    "bpe_tokens" -> bpeTokens _,
    "bpe_merge_pairs" -> bpeMergePairs _,
    "bpe_train_merges" -> bpeTrainMerges _,
    "bpe_encode" -> bpeEncode _,
    "unigram_lm_train" -> unigramLmTrain _,
    "unigram_encode" -> unigramEncode _,
    "token_pack_bpe" -> tokenPackBpe _,
    "token_budget_mix_bpe" -> tokenBudgetMixBpe _,
    "text_quality" -> textQuality _,
    "repetition_signals" -> repetitionSignals _,
    "pii_scrub" -> piiScrub _,
    "quality_ensemble" -> qualityEnsemble _,
    "text_clean" -> textClean _,
    "repetition_ratio" -> repetitionRatio _,
    "tfidf_top_terms" -> tfidfTopTerms _,
    "token_pack" -> tokenPack _,
    "pii_redact" -> piiRedact _,
    "blocklist_filter" -> blocklistFilter _,
    "heavy_hitters" -> heavyHitters _,
    "hll_distinct" -> hllDistinct _,
    "kmv_bottomk" -> kmvBottomK _,
    "sample_quantiles" -> sampleQuantiles _,
    "quantile_error" -> quantileError _,
    "audio_features" -> audioFeaturesQ _,
    "url_canonicalize" -> urlCanonicalize _,
    "url_dedup" -> urlDedup _,
    "url_domain_stats" -> urlDomainStats _,
    "url_psl_domains" -> urlPslDomains _,
    "url_frontier_refresh" -> urlFrontierRefresh _,
    "vocab_growth" -> vocabGrowth _,
    "neardup_cluster_sizes" -> neardupClusterSizes _,
    "ivf_balance" -> ivfBalance _,
    "stable_split" -> stableSplit _,
    "boilerplate_ngrams" -> boilerplateNgrams _,
    "length_histogram" -> lengthHistogram _,
    "decontaminate" -> decontaminate _,
    "domain_mix" -> domainMix _,
    "corpus_report" -> corpusReport _,
    "corpus_curate" -> corpusCurate _,
    "corpus_curate_best" -> corpusCurateBest _,
    "corpus_curate_span" -> corpusCurateSpan _,
    "lang_id" -> langId _,
    "fingerprint" -> fingerprint _,
    "simhash16" -> simhash16 _,
    "minhash_signature" -> minhashSignature _,
    "minhash_pairs" -> minhashPairs _,
    "minhash_neardup" -> minhashNearDup _,
    "lsh_recall" -> lshRecall _,
    "neardup_by_source" -> neardupBySource _,
    "dup_ngrams" -> dupNgrams _,
    "neardup_components" -> neardupComponents _,
    "cluster_best" -> clusterBest _,
    "doc_pagerank" -> docPageRank _,
    "triangle_count" -> triangleCount _,
    "label_spread" -> labelSpread _,
    "user_ewma" -> userEwma _,
    "kn_bigram_bits" -> knBigramBits _,
    "knn_graph" -> knnGraph _,
    "knn_graph_scaled" -> knnGraphScaled _,
    "knn_clusters" -> knnClusters _,
    "ngram_novelty" -> ngramNovelty _,
    "subset_docs" -> subsetDocs _,
    "split_leakage" -> splitLeakage _,
    "bm25_topk" -> bm25TopK _,
    "winnow_pairs" -> winnowPairs _,
    "winnow_robust" -> winnowRobust _,
    "winnow_capped" -> winnowCapped _,
    "simhash_neardup" -> simhashNearDup _,
    "simhash64_neardup" -> simhash64NearDup _,
    "dedup_keeplast_salted" -> dedupKeeplastSalted _,
    "ngram_jaccard_pairs" -> ngramJaccardPairs _,
    "jaccard_ppjoin" -> jaccardPpjoin _,
    "containment_pairs" -> containmentPairs _,
    "containment_ppjoin" -> containmentPpjoin _,
    "subset_ppjoin" -> subsetPpjoin _,
    "cosine_topk" -> cosineTopK _,
    "ivf_topk" -> ivfTopK _,
    "ann_recall" -> annRecall _,
    "pq_topk" -> pqTopK _,
    "pq_recall" -> pqRecall _,
    "bq_topk" -> bqTopK _,
    "bq_recall" -> bqRecall _,
    "pq_distortion" -> pqDistortion _,
    "ivfpq_topk" -> ivfpqTopK _,
    "ivfpq_recall" -> ivfpqRecall _,
    "hard_negatives" -> hardNegatives _,
    "embedding_neardup" -> embeddingNearDup _,
    "semantic_dedup" -> semanticDedup _,
    "chunk_dedup" -> chunkDedup _,
    "span_dedup" -> spanDedup _,
    "span_dedup_capped" -> spanDedupCapped _,
    "span_dedup_hashed" -> spanDedupHashed _,
    "contamination_spans" -> contaminationSpans _,
    "kcore_docs" -> kcoreDocs _,
    "quality_logit" -> qualityLogit _,
    "quality_train" -> qualityTrain _,
    "quality_train_infer" -> qualityTrainInfer _,
    "embedding_outliers" -> embeddingOutliers _,
    "quota_split" -> quotaSplit _,
    "ppl_buckets" -> pplBuckets _,
    "nfc_normalize" -> nfcNormalize _,
    "domain_gate" -> domainGate _,
    "image_phash" -> imagePhash _,
    "asof_forward" -> asofForward _,
    "asof_nearest" -> asofNearest _,
    "interval_overlap" -> intervalOverlapSessions _,
    "pack_manifest" -> packManifest _,
    "dedup_report" -> dedupReport _,
    "span_excise_ref" -> spanExciseRef _,
    "cdc_chunks" -> cdcChunks _,
    "range_join" -> rangeJoinSessions _,
    "unigram_surprisal" -> unigramSurprisal _,
    "dsir_weights" -> dsirWeights _,
    "dsir_resample" -> dsirResample _,
    "bigram_surprisal" -> bigramSurprisal _,
    "shuffle_shards" -> shuffleShards _,
    "epoch_upsample" -> epochUpsample _,
    "incremental_dedup" -> incrementalDedup _,
    "token_budget_mix" -> tokenBudgetMix _,
    "temperature_mix" -> temperatureMix _,
    "cust_retention" -> custRetention _,
    "nation_quartiles" -> nationRevenueQuartiles _,
    "multimodal_resize" -> multimodalResize _,
    "multimodal_frames" -> multimodalFrames _,
    "multimodal_meta" -> multimodalMeta _)
}
