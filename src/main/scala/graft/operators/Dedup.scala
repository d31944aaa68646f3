package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortDirection, SortOrder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.catalyst.KeepFirst

/** Deduplication operators (SURVEY §2.5).
  *
  * The reference dedups the lines of one output file when it closes. The
  * keep-last and keep-first operators here run over an arbitrary
  * DataFrame as one [[graft.catalyst.KeepFirst]]: each partition is
  * sorted by key then order and one streaming pass keeps the first row of
  * each key, once before a hash exchange on the key (so the exchange
  * carries one row per key and partition) and once after it. An input
  * already clustered on a subset of the key gets neither the exchange nor
  * the first sort and pass. A caller scopes them by putting the scope's
  * columns first in the key, as [[graft.restructure.Restructure.dedup]]
  * does with the output file `(_project, _user, _bin)`. They need a
  * session with [[graft.catalyst.GraftExtensions]], which plans the node.
  */
object Dedup {

  /** D1 — keep-LAST occurrence per key
    * (reference: format/CsvAvroConverterFactory.kt:22-56). `orderCol` stands
    * in for the original line number: the row with the greatest `orderCol`
    * per key survives. Rows do not come out in `orderCol` order.
    *
    * Note `dropDuplicates` keeps an arbitrary FIRST row, so it is not
    * semantics-equivalent.
    *
    * Keys compare as grouping compares them: a float NaN equals NaN,
    * -0.0 equals 0.0, and null equals null. A key whose type contains a map
    * (an Avro map field, or a payload struct holding one) compares on its
    * [[orderable]] form, since Spark can neither sort nor hash maps, so two
    * maps holding the same entries are equal. Map-free keys pass through
    * unchanged.
    */
  def keepLast(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    keepFirst(df, keys, orderCol, Descending)

  /** The first row per `keys` by `orderCol` in `direction` (nulls last
    * when descending, first when ascending), as one [[KeepFirst]] node
    * whose key and order columns the analyzer resolves against `df`. */
  private def keepFirst(df: DataFrame, keys: Seq[String], orderCol: String,
      direction: SortDirection): DataFrame = {
    def expression(c: Column) = GraftBridge.expression(df.sparkSession, c)
    val order = SortOrder(expression(col(orderCol)), direction)
    GraftBridge.ofRows(df.sparkSession, KeepFirst(
      orderableKeys(df, keys).map(expression), Seq(order), df.queryExecution.analyzed))
  }

  /** The key columns for `keys`: each in its [[orderable]] form, so a
    * map-free key is the bare column. */
  private[graft] def orderableKeys(df: DataFrame, keys: Seq[String]): Seq[Column] = {
    val types = df.select(keys.map(col): _*).schema.map(_.dataType)
    keys.zip(types).map { case (k, t) => orderable(col(k), t) }
  }

  /** An orderable value equal for two rows exactly when `c` is: each map
    * becomes its entries as an array of (key, value) structs sorted by
    * key, recursively through structs and arrays, so maps holding the same
    * entries in a different insertion order compare equal. Null stays
    * null; a map-free `c` is returned as is. */
  private def orderable(c: Column, t: DataType): Column = t match {
    case _ if !hasMap(t) => c
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(orderable(e.getField("key"), kt).as("key"),
          orderable(e.getField("value"), vt).as("value"))))
    case StructType(fields) =>
      when(c.isNotNull, struct(fields.toSeq.map(f =>
        orderable(c.getField(f.name), f.dataType).as(f.name)): _*))
    case ArrayType(et, _) => transform(c, orderable(_, et))
    case _ => c
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case StructType(fields) => fields.exists(f => hasMap(f.dataType))
    case ArrayType(et, _) => hasMap(et)
    case _ => false
  }

  /** The ONE owner of `ignoreFields` key derivation: all columns minus the
    * ignored ones minus the order column — shared by [[keepLastIgnoring]]
    * and the restructure job's dedup so the two can never drift.
    *
    * Ignored names are flat header names: `value.serverStatus` is that
    * leaf of the `value` struct. A struct some ignored name points inside
    * is replaced by its fields (recursively along that path), each a
    * dotted key, minus the ignored ones; every other column stays whole.
    * A flat frame therefore keeps exactly its column names. */
  def keysIgnoring(df: DataFrame, ignore: Seq[String], orderCol: String): Seq[String] = {
    def keys(name: String, t: DataType): Seq[String] = t match {
      case _ if ignore.contains(name) => Seq.empty
      case StructType(fields) if ignore.exists(_.startsWith(s"$name.")) =>
        fields.toSeq.flatMap(f => keys(s"$name.${f.name}", f.dataType))
      case _ => Seq(name)
    }
    df.schema.fields.toSeq.filterNot(_.name == orderCol).flatMap(f => keys(f.name, f.dataType))
  }

  /** D1 with `ignoreFields` semantics: key = all columns minus the ignored
    * ones (reference: format/CsvAvroConverterFactory.kt:158-171 —
    * `distinctFields` wins over `ignoreFields` when both are set). */
  def keepLastIgnoring(df: DataFrame, ignore: Seq[String], orderCol: String): DataFrame =
    keepLast(df, keysIgnoring(df, ignore, orderCol), orderCol)

  /** D2 — keep-FIRST whole-row distinct
    * (reference: format/RecordConverterFactory.kt:62-84; JSON format).
    * Key = all columns except `orderCol`; the row with the least `orderCol`
    * per distinct content survives. Keys compare as in [[keepLast]]. */
  def keepFirstDistinct(df: DataFrame, orderCol: String): DataFrame =
    keepFirst(df, df.columns.filterNot(_ == orderCol).toSeq, orderCol, Ascending)

  /** Exact whole-row dedup at scale: groupBy the content hash first so the
    * shuffle carries (hash, min-order) pairs instead of full rows when the
    * caller only needs the surviving keys. Returns one representative id per
    * distinct `contentCols` combination (the minimum of `idCol`), plus the
    * duplicate count. */
  def exactGroups(df: DataFrame, contentCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(contentCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Skew-tolerant keep-last: same result as [[keepLast]] via a two-phase
    * max_by aggregation instead of a sort. Phase 1 reduces per
    * (key, salt) with map-side partial aggregation, phase 2 reduces the
    * per-salt winners — a hot key's rows spread over `saltBuckets`
    * reducers instead of landing on one. Column order of the output matches
    * the input; `orderCol` must be unique per key (it is a row index).
    *
    * Use when a dedup key is pathologically hot (boilerplate documents,
    * null-ish keys). [[keepLast]] is one shuffle and a sort of every
    * partition; this is two light shuffles with partial aggregation and no
    * sort. On the restructure pass it lost to [[keepLast]] (then a window
    * over the same shuffle and sort) in both measured regimes
    * (all-unique and 75% duplicate keys, BENCHSCALE.md), so that pass
    * uses [[keepLast]].
    */
  def keepLastSalted(
      df: DataFrame,
      keys: Seq[String],
      orderCol: String,
      saltBuckets: Int = 64): DataFrame = {
    val all = df.columns.toSeq
    val rowStruct = struct(all.map(col): _*)
    // hash-based salt so orderCol may be ANY orderable type (e.g. a
    // (offset, partition) struct), not just numeric; pmod keeps the
    // bucket non-negative for negative hashes. Plan-only — the salt only
    // spreads phase-1 groups, winners are still decided by orderCol.
    val salted = df.withColumn("__salt",
      pmod(xxhash64(col(orderCol)), lit(saltBuckets.toLong)))
    // keys may be NESTED field references (e.g. value.time): phase 1's
    // groupBy output would auto-alias them to the bare leaf name, which
    // phase 2 could not resolve — pin stable aliases instead
    val keyAliases = keys.indices.map(i => s"__k$i")
    val phase1 = salted
      .groupBy(keys.zip(keyAliases).map { case (k, a) => col(k).as(a) } :+ col("__salt"): _*)
      .agg(max_by(rowStruct, col(orderCol)).as("__row"))
    val phase2 = phase1
      .groupBy(keyAliases.map(col): _*)
      .agg(max_by(col("__row"), col(s"__row.$orderCol")).as("__row"))
    phase2.select(all.map(c => col(s"__row.$c").as(c)): _*)
  }
}
