package graft.restructure

import graft.SparkSpec
import graft.operators.Flatten
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.io.{File, FileInputStream, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.{GZIPInputStream, ZipInputStream}
import scala.util.Random

/** [[CsvPartFormat]] writes the files Spark's own CSV writer writes, file
  * by file against `DataFrameWriter.csv` over fuzzed values for each
  * codec, with no `.crc` beside a gzip or zip part. */
class CsvPartFormatSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("i", IntegerType), StructField("l", LongType),
    StructField("f", FloatType), StructField("d", DoubleType), StructField("b", BooleanType),
    StructField("t", StringType)))

  /** Delimiters, quotes, the escape, line breaks, whitespace, control
    * characters, the comment character and non-ASCII text. */
  private val pieces = Seq("a", "b", "Z", "0", " ", "  ", "\t", "\n", "\r", "\r\n", ",", "\"", "\\",
    "#", "\u0000", "\u0001", "\u001f", "\u007f", " ", "é", "日本", "😀", " ",
    "{", "}", ":", "'", "/", "null", "NaN")

  private def string(rnd: Random): String =
    if (rnd.nextInt(8) == 0) "" else Seq.fill(rnd.nextInt(7) + 1)(pieces(rnd.nextInt(pieces.size))).mkString

  private val doubles = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0,
    java.lang.Double.MIN_VALUE, java.lang.Double.MIN_NORMAL, Double.MaxValue, Double.MinValue,
    1e22, 1e-7, 1e7, 123.456, -1.5, 4.9e-320)
  private val floats = Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f, 0.0f,
    java.lang.Float.MIN_VALUE, java.lang.Float.MIN_NORMAL, Float.MaxValue, 1e10f, 1e-3f, 3.25f)

  private def row(rnd: Random): Row = {
    def maybe(v: => Any): Any = if (rnd.nextInt(7) == 0) null else v
    Row(
      maybe(string(rnd)),
      maybe(if (rnd.nextBoolean()) rnd.nextInt() else Seq(0, -1, Int.MinValue, Int.MaxValue)(rnd.nextInt(4))),
      maybe(if (rnd.nextBoolean()) rnd.nextLong() else Seq(0L, -7L, Long.MinValue, Long.MaxValue)(rnd.nextInt(4))),
      maybe(if (rnd.nextBoolean()) java.lang.Float.intBitsToFloat(rnd.nextInt()) else floats(rnd.nextInt(floats.size))),
      maybe(if (rnd.nextBoolean()) java.lang.Double.longBitsToDouble(rnd.nextLong()) else doubles(rnd.nextInt(doubles.size))),
      maybe(rnd.nextBoolean()),
      maybe(string(rnd)))
  }

  private def open(f: File): InputStream = {
    val in = new FileInputStream(f)
    if (f.getName.endsWith(".gz")) new GZIPInputStream(in)
    else if (f.getName.endsWith(".zip")) { val z = new ZipInputStream(in); z.getNextEntry; z }
    else in
  }

  /** Each partition dir under `root` -> its part files' decompressed
    * bytes, in part-name order. */
  private def contents(root: File, ext: String): Map[String, String] = {
    def walk(d: File): Seq[File] = d.listFiles().toSeq.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    val parts = walk(root).filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty && parts.forall(_.getName.endsWith(ext)), parts.map(_.getName))
    parts.groupBy(_.getParentFile.toString.stripPrefix(root.toString)).map { case (dir, fs) =>
      dir -> fs.sortBy(_.getName).map { f =>
        val in = open(f)
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }.mkString
    }
  }

  /** `df` written by Spark's writer and by [[CsvPartFormat]], partitioned
    * on `p` as a restructure batch is: the same decompressed bytes in
    * every partition dir, and no `.crc` beside a self-checking codec. */
  private def assertSameFiles(df: DataFrame, compression: String): Unit = {
    val dir = Files.createTempDirectory("graft-csv-parts").toFile
    val (theirs, ours) = (new File(dir, "spark"), new File(dir, "ours"))
    val codec = if (compression == "zip") classOf[graft.compression.ZipCodec].getName else compression
    def writer = df.repartition(2, col("p")).write.partitionBy("p").option("header", "true")
      .option("compression", codec)
    writer.csv(theirs.toString)
    writer.format(classOf[CsvPartFormat].getName).save(ours.toString)
    val ext = ".csv" + Map("none" -> "", "gzip" -> ".gz", "zip" -> ".zip")(compression)
    val (a, b) = (contents(theirs, ext), contents(ours, ext))
    assert(a.keySet == b.keySet)
    for (k <- a.keys) assert(a(k) == b(k), s"$compression $k")
    def crcs(d: File): Seq[File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) crcs(f) else Seq(f).filter(_.getName.endsWith(".crc")))
    val dataCrcs = crcs(ours).filter(_.getName.startsWith(".part-"))
    if (compression == "none") assert(dataCrcs.nonEmpty) else assert(dataCrcs.isEmpty, dataCrcs)
  }

  private lazy val fuzzedFrame: DataFrame = {
    val rnd = new Random(42)
    val rows = Seq.fill(400)(row(rnd)).map(r => Row.fromSeq(r.toSeq :+ s"bin${rnd.nextInt(5)}"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema.add("p", StringType))
  }

  for (compression <- Seq("none", "gzip", "zip"))
    test(s"csv files with compression $compression match Spark's writer") {
      assertSameFiles(fuzzedFrame, compression)
    }

  test("map and array payloads: JSON-encoded, CSV layout expansion and its empty fallback") {
    import spark.implicits._
    val nested = Seq(
      ("b1", Map("x" -> 1.5, "y,z" -> Double.NaN), Seq("a\"b", null, " c "), 1L),
      ("b1", Map("y,z" -> -0.0), Seq.empty[String], 2L),
      ("b2", null, Seq("\n"), 3L),
      ("b2", Map.empty[String, Double], null, 4L)).toDF("p", "m", "a", "o")
    val empty = Seq(("b1", Map.empty[String, Int], Seq.empty[Long])).toDF("p", "m", "a")
    def payload(df: DataFrame) = StructType(df.schema.fields.filterNot(f => f.name == "p" || f.name == "o"))
    val jsonEncoded = nested.select(col("p") +: Flatten.flattenColumns(payload(nested)): _*)
    val layout = Flatten.csvLayout(nested.select("m", "a", "o"), Some("o"))
    val expanded = nested.select(col("p") +: Flatten.csvColumns(payload(nested), layout): _*)
    assert(expanded.columns.toSeq == Seq("p", "m.x", "m.y,z", "a.0", "a.1", "a.2"))
    assert(Flatten.csvColumns(payload(empty), Flatten.csvLayout(empty.select("m", "a"))).isEmpty)
    val fallback = empty.select(col("p") +: Flatten.flattenColumns(payload(empty)): _*)
    for (df <- Seq(jsonEncoded, expanded, fallback)) assertSameFiles(df, "gzip")
  }
}
