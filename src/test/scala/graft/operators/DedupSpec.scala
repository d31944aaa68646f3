package graft.operators

import graft.SparkSpec

/** Dedup semantics pinned by the reference's 7-line corpus
  * (format/CsvAvroConverterTest.kt:159-220, see FIXTURES.md §4).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // (line index, a, b) — the reference corpus in file order
  private def corpus =
    Seq((1, "1", "2"), (2, "3", "4"), (3, "1", "3"), (4, "3", "4"),
      (5, "1", "2"), (6, "a", "a"), (7, "3", "3"))
      .toDF("i", "a", "b")

  private def kept(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
    df.orderBy("i").select("a", "b").collect().map(r => (r.getString(0), r.getString(1))).toSeq

  test("full-line keep-last preserves original order of kept lines") {
    assert(kept(Dedup.keepLast(corpus, Seq("a", "b"), "i")) ==
      Seq(("1", "3"), ("3", "4"), ("1", "2"), ("a", "a"), ("3", "3")))
  }

  test("distinctFields=[a] keeps last per key a") {
    assert(kept(Dedup.keepLast(corpus, Seq("a"), "i")) ==
      Seq(("1", "2"), ("a", "a"), ("3", "3")))
  }

  test("ignoreFields=[a] keys on b") {
    assert(kept(Dedup.keepLastIgnoring(corpus, Seq("a"), "i")) ==
      Seq(("3", "4"), ("1", "2"), ("a", "a"), ("3", "3")))
  }

  test("a dotted ignored name replaces its struct by the other leaves on its path") {
    import org.apache.spark.sql.functions.{col, struct}
    val nested = corpus.select(col("i"),
      struct(col("a"), col("b"), struct(col("a").as("x"), col("b").as("y")).as("c")).as("value"))
    assert(Dedup.keysIgnoring(nested, Seq("value.c.x"), "i") ==
      Seq("value.a", "value.b", "value.c.y"))
    assert(Dedup.keysIgnoring(nested, Seq("value.b"), "i") == Seq("value.a", "value.c"))
    // a flat frame keeps its column names
    assert(Dedup.keysIgnoring(corpus, Seq("a"), "i") == Seq("b"))
  }

  test("JSON keep-first line-set distinct preserves first-occurrence order") {
    assert(kept(Dedup.keepFirstDistinct(corpus, "i")) ==
      Seq(("1", "2"), ("3", "4"), ("1", "3"), ("a", "a"), ("3", "3")))
  }

  test("keep-first distinct keys a map column on its entries, not their order") {
    import org.apache.spark.sql.functions.{array, col, lit, map_from_arrays, when}
    // rows 1 and 2 hold the same entries in a different insertion order
    val df = Seq((1, "x", 0), (2, "x", 1), (3, "y", 0)).toDF("i", "a", "flip")
      .withColumn("m", when(col("flip") === 0,
        map_from_arrays(array(lit("k1"), lit("k2")), array(lit(1), lit(2))))
        .otherwise(map_from_arrays(array(lit("k2"), lit("k1")), array(lit(2), lit(1)))))
      .drop("flip")
    val out = Dedup.keepFirstDistinct(df, "i").orderBy("i").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 3))
    assert(out.head.getMap[String, Int](2) == Map("k1" -> 1, "k2" -> 2))
  }

  test("keepLastSalted equals keepLast (skew-tolerant two-phase)") {
    import org.apache.spark.sql.functions.col
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select("event_id", "user_id", "event_type")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_id").collect().toSeq
    assert(
      sorted(Dedup.keepLastSalted(events, Seq("user_id", "event_type"), "event_id", 8)) ==
        sorted(Dedup.keepLast(events, Seq("user_id", "event_type"), "event_id")))
  }

  test("exactGroups returns min id and duplicate count per content") {
    val out = Dedup.exactGroups(corpus, Seq("a", "b"), "i")
      .orderBy("keep_id")
      .collect().map(r => (r.getAs[Int]("keep_id"), r.getAs[Long]("n_dups"))).toSeq
    assert(out == Seq((1, 2L), (2, 2L), (3, 1L), (6, 1L), (7, 1L)))
  }
}
