package graft.operators

import graft.SparkSpec
import graft.catalyst.KeepFirstExec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The streaming keep-first operators keep exactly the rows the window
  * formulation ([[DedupReference]]) keeps, on keys where equality is
  * subtle: float NaN and -0.0 (equal to NaN and 0.0), nulls, a float
  * inside a struct, and maps holding the same entries in a different
  * insertion order. */
class KeepFirstPropertySpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val schema = StructType(Seq(
    StructField("d", DoubleType), StructField("s", StringType),
    StructField("st", StructType(Seq(StructField("x", FloatType), StructField("y", StringType)))),
    StructField("m", MapType(StringType, DoubleType)), StructField("v", IntegerType),
    StructField("ord", LongType, nullable = false)))

  private val genDouble = Gen.oneOf[Any](null, Double.NaN, -0.0, 0.0, 1.0,
    java.lang.Double.longBitsToDouble(0x7ff8000000000001L)) // a NaN with other bits
  private val genFloat = Gen.oneOf[Any](null, Float.NaN, -0.0f, 0.0f, 2.5f)
  private val genString = Gen.oneOf[Any](null, "a", "b")
  private val genMap = Gen.oneOf[Any](null, Map.empty[String, Double],
    Map("k1" -> 1.0, "k2" -> -0.0), Map("k2" -> 0.0, "k1" -> 1.0),
    Map("k2" -> Double.NaN), Map("k1" -> 1.0))

  private val genRows: Gen[List[Row]] = for {
    n <- Gen.choose(1, 24)
    rows <- Gen.listOfN(n, for {
      d <- genDouble; s <- genString; x <- genFloat; y <- genString
      st <- Gen.oneOf(true, false); m <- genMap; v <- Gen.oneOf[Any](null, 0, 1)
    } yield (d, s, if (st) Row(x, y) else null, m, v))
  } yield rows.zipWithIndex.map { case ((d, s, st, m, v), i) => Row(d, s, st, m, v, i.toLong) }

  private def frame(rows: List[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private def kept(df: DataFrame): Seq[Long] = df.select("ord").collect().map(_.getLong(0)).sorted.toSeq

  private def check(name: String)(ours: DataFrame => DataFrame, reference: DataFrame => DataFrame): Unit = {
    val p = Prop.forAll(genRows) { rows =>
      val df = frame(rows)
      kept(ours(df)) == kept(reference(df))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  test("keepLast on float, null and nested float keys matches the window") {
    check("floats")(Dedup.keepLast(_, Seq("d", "s", "st.x"), "ord"),
      DedupReference.keepLast(_, Seq("d", "s", "st.x"), "ord"))
  }

  test("keepLast on a map key compares entries, not insertion order, as the window does") {
    check("maps")(Dedup.keepLast(_, Seq("m"), "ord"), DedupReference.keepLast(_, Seq("m"), "ord"))
  }

  test("distinctFields and whole-struct keys match the window") {
    check("distinct")(Dedup.keepLast(_, Seq("st", "v"), "ord"),
      DedupReference.keepLast(_, Seq("st", "v"), "ord"))
  }

  test("keepLastIgnoring matches the window") {
    check("ignore")(Dedup.keepLastIgnoring(_, Seq("v", "st.y"), "ord"),
      DedupReference.keepLastIgnoring(_, Seq("v", "st.y"), "ord"))
  }

  test("JSON keep-first distinct matches the window") {
    check("keepFirst")(Dedup.keepFirstDistinct(_, "ord"), DedupReference.keepFirstDistinct(_, "ord"))
  }

  test("keys compare as grouping does: NaN = NaN, -0.0 = 0.0, null = null") {
    import spark.implicits._
    val df = Seq[(java.lang.Double, Long)]((Double.NaN, 0L), (Double.NaN, 1L), (-0.0, 2L), (0.0, 3L),
      (null, 4L), (null, 5L)).toDF("d", "ord")
    assert(kept(Dedup.keepLast(df, Seq("d"), "ord")) == Seq(1L, 3L, 5L))
    assert(kept(Dedup.keepFirstDistinct(df, "ord")) == Seq(0L, 2L, 4L))
  }

  test("an orderBy on the keys above keep-first still orders globally") {
    import spark.implicits._
    val df = (0 until 200).map(i => ((i * 37) % 50, i.toLong)).toDF("k", "ord").repartition(4)
    val keys = Dedup.keepLast(df, Seq("k"), "ord").orderBy("k").collect().map(_.getInt(0)).toSeq
    assert(keys == (0 until 50))
  }

  test("a partial pass runs before the exchange unless the input is already clustered on the keys") {
    import spark.implicits._
    val df = (0 until 200).map(i => (i % 10, i.toLong)).toDF("k", "ord")
    def partial(out: DataFrame): Seq[Boolean] = {
      out.collect()
      collect(out.queryExecution.executedPlan) { case k: KeepFirstExec => k.partial }.sorted
    }
    assert(partial(Dedup.keepLast(df.repartition(4), Seq("k"), "ord")) == Seq(false, true))
    assert(partial(Dedup.keepLast(df.repartition(4, col("k")), Seq("k"), "ord")) == Seq(false))
    assert(kept(Dedup.keepLast(df.repartition(4), Seq("k"), "ord")) == (190L until 200L))
  }
}
