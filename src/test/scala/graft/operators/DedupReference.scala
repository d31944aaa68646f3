package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** The window formulation of [[Dedup.keepLast]] and
  * [[Dedup.keepFirstDistinct]]: `row_number()` over the key's
  * [[Dedup.orderableKeys]], ordered by the order column, row 1 kept. The
  * operators planned this way before they streamed over one sort;
  * `KeepFirstPropertySpec` checks them against it. Spark normalizes the
  * window's float keys itself. */
object DedupReference {

  def keepLast(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    firstBy(df, keys, col(orderCol).desc)

  def keepLastIgnoring(df: DataFrame, ignore: Seq[String], orderCol: String): DataFrame =
    keepLast(df, Dedup.keysIgnoring(df, ignore, orderCol), orderCol)

  def keepFirstDistinct(df: DataFrame, orderCol: String): DataFrame =
    firstBy(df, df.columns.filterNot(_ == orderCol).toSeq, col(orderCol).asc)

  private def firstBy(df: DataFrame, keys: Seq[String], order: org.apache.spark.sql.Column): DataFrame = {
    val w = Window.partitionBy(Dedup.orderableKeys(df, keys): _*).orderBy(order)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
