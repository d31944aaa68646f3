package graft.avro

import graft.SparkSpec
import graft.operators.Flatten
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.SparkEnv
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.io.File
import java.nio.file.Files
import java.nio.ByteBuffer

/** Avro source + flatten against the reference's full type-matrix fixture
  * (src/test/resources/org/radarbase/output/data/full.avsc, FIXTURES.md
  * §3.3): string, bytes, fixed, long, double, float, int, map, array, enum,
  * nested record with nullable union, boolean.
  */
class AvroSourceSpec extends SparkSpec {

  private val schemaJson =
    """{"type":"record","name":"Full","fields":[
      | {"name":"a","type":"string"},
      | {"name":"b","type":"bytes"},
      | {"name":"c","type":{"type":"fixed","name":"F1","size":1}},
      | {"name":"d","type":"long"},
      | {"name":"e","type":"double"},
      | {"name":"f","type":"float"},
      | {"name":"g","type":"int"},
      | {"name":"i","type":{"type":"map","values":"int"}},
      | {"name":"j","type":{"type":"array","items":"string"}},
      | {"name":"k","type":{"type":"enum","name":"E1","symbols":["S","Y","M"]}},
      | {"name":"l","type":{"type":"record","name":"Inner","fields":[
      |   {"name":"la","type":["null","string"],"default":null}]}},
      | {"name":"m","type":"boolean"}
      |]}""".stripMargin

  private val schema = new Schema.Parser().parse(schemaJson)

  private def fixture(): File = {
    val dir = Files.createTempDirectory("graft-avro").toFile
    val file = new File(dir, "full+0+0000000000.avro")
    val rec = new GenericData.Record(schema)
    rec.put("a", "hello")
    rec.put("b", ByteBuffer.wrap(Array[Byte](104, 105))) // "hi"
    rec.put("c", new GenericData.Fixed(schema.getField("c").schema(), Array[Byte](33)))
    rec.put("d", 7L)
    rec.put("e", 2.5d)
    rec.put("f", 1.5f)
    rec.put("g", 42)
    val m = new java.util.HashMap[String, Int](); m.put("some", 1); m.put("other", 2)
    rec.put("i", m)
    val arr = new java.util.ArrayList[String](); arr.add("x"); arr.add("y")
    rec.put("j", arr)
    rec.put("k", new GenericData.EnumSymbol(schema.getField("k").schema(), "Y"))
    val inner = new GenericData.Record(schema.getField("l").schema())
    inner.put("la", null)
    rec.put("l", inner)
    rec.put("m", true)
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, file)
    w.append(rec)
    w.close()
    file
  }

  test("full type matrix reads, converts, and flattens with dotted names") {
    val file = fixture()
    val groups = AvroSource.schemaGroups(spark, Seq(file.toString))
    assert(groups.size == 1)
    val df = AvroSource.read(spark, Seq(file.toString), groups.head._1)
      .drop("_file", "_row_index")

    val flat = Flatten.flatten(df)
    assert(flat.columns.toSeq ==
      Seq("a", "b", "c", "d", "e", "f", "g", "i", "j", "k", "l.la", "m"))
    val row = flat.head
    assert(row.getAs[String]("a") == "hello")
    assert(row.getAs[String]("b") == "aGk") // unpadded base64 of "hi"
    assert(row.getAs[String]("c") == "IQ")  // unpadded base64 of "!"
    assert(row.getAs[Long]("d") == 7L)
    assert(row.getAs[Double]("e") == 2.5d)
    assert(row.getAs[Float]("f") == 1.5f)
    assert(row.getAs[Int]("g") == 42)
    assert(row.getAs[String]("i").contains("\"some\":1"))
    assert(row.getAs[String]("j") == """["x","y"]""")
    assert(row.getAs[String]("k") == "Y")
    assert(row.isNullAt(row.fieldIndex("l.la")))
    assert(row.getAs[Boolean]("m"))
  }

  test("explodeArraysByIndex produces data-dependent per-index columns") {
    val file = fixture()
    val groups = AvroSource.schemaGroups(spark, Seq(file.toString))
    val df = AvroSource.read(spark, Seq(file.toString), groups.head._1)
      .select("j")
    val out = Flatten.explodeArraysByIndex(df)
    assert(out.columns.toSeq == Seq("j.0", "j.1"))
    val row = out.head
    assert(row.getAs[String]("j.0") == "x" && row.getAs[String]("j.1") == "y")
  }

  test("row index is stable across many avro blocks (small sync interval)") {
    val dir = Files.createTempDirectory("graft-avro3").toFile
    val s1 = new Schema.Parser().parse(
      """{"type":"record","name":"R","fields":[{"name":"x","type":"long"}]}""")
    val f = new File(dir, "t+0+0000000100.avro")
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](s1))
    w.setSyncInterval(64) // force many container blocks
    w.create(s1, f)
    (0L until 500L).foreach { i =>
      val r = new GenericData.Record(s1); r.put("x", i); w.append(r)
    }
    w.close()
    val groups = AvroSource.schemaGroups(spark, Seq(f.toString))
    val df = AvroSource.read(spark, Seq(f.toString), groups.head._1)
    // _row_index must equal the record payload written in order
    import org.apache.spark.sql.functions.col
    assert(df.filter(col("_row_index") =!= col("x")).count() == 0)
    assert(df.count() == 500)
  }

  test("schema drift groups files separately") {
    val dir = Files.createTempDirectory("graft-avro2").toFile
    val s1 = new Schema.Parser().parse(
      """{"type":"record","name":"R","fields":[{"name":"x","type":"int"}]}""")
    val s2 = new Schema.Parser().parse(
      """{"type":"record","name":"R","fields":[{"name":"x","type":"int"},{"name":"y","type":"string"}]}""")
    def write(name: String, s: Schema, put: GenericData.Record => Unit): String = {
      val f = new File(dir, name)
      val rec = new GenericData.Record(s); put(rec)
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](s))
      w.create(s, f); w.append(rec); w.close()
      f.toString
    }
    val p1 = write("t+0+0000000000.avro", s1, _.put("x", 1))
    val p2 = write("t+0+0000000001.avro", s2, r => { r.put("x", 2); r.put("y", "b") })
    val p3 = write("t+0+0000000002.avro", s1, _.put("x", 3))
    val groups = AvroSource.schemaGroups(spark, Seq(p1, p2, p3))
    assert(groups.map(_._2.size) == Seq(2, 1)) // s1 files grouped, s2 alone
  }

  test("the scan's task closure carries a handle to the Hadoop conf, not the conf") {
    val file = fixture()
    val groups = AvroSource.schemaGroups(spark, Seq(file.toString))
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "graft.test.closure-ballast"
    val ballast = 256 * 1024
    conf.set(key, "x" * ballast)
    try {
      val df = AvroSource.read(spark, Seq(file.toString), groups.head._1)
      val factories = df.queryExecution.sparkPlan.collect { case s: BatchScanExec => s.readerFactory }
      assert(factories.size == 1)
      val size = SparkEnv.get.closureSerializer.newInstance().serialize(factories.head).limit()
      assert(size < ballast / 16, s"the scan's reader factory serializes to $size bytes")
      assert(df.count() == 1)
    } finally conf.unset(key)
  }

  test("a batch read of the stream's table reads every sink file with its constants") {
    val file = fixture()
    val rows = spark.read.format("graft.avro.AvroStreamSource").load(file.getParent)
      .select("_file", "_row_index", "a", "_partition", "_start_offset", "_mtime").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(0).endsWith(file.getName) && r.getLong(1) == 0L && r.getString(2) == "hello")
    assert(r.getInt(3) == 0 && r.getLong(4) == 0L)
    assert(r.getTimestamp(5).getTime == file.lastModified())
  }

  test("the converter keeps projecting through an additively widened union") {
    // read schema pinned to union[null, double] -> DoubleType; a later
    // writer widened the union with a string branch — a double datum must
    // still arrive as a Double, not a string rendering
    val widened = new Schema.Parser().parse(
      """{"type":"record","name":"R","fields":[
        | {"name":"x","type":["null","double","string"]}]}""".stripMargin)
    val rec = new GenericData.Record(widened)
    rec.put("x", 1.5d)
    val out = AvroSchemas.converter(widened, StructType(Seq(StructField("x", DoubleType))))(rec)
    assert(out == InternalRow(1.5d))
    // and the string branch still renders when the target IS a string
    rec.put("x", new org.apache.avro.util.Utf8("hello"))
    val asString = AvroSchemas.converter(widened, StructType(Seq(StructField("x", StringType))))(rec)
    assert(asString == InternalRow(UTF8String.fromString("hello")))
  }

  // ------------------------------------------------- converter parity

  /** Every Avro type: primitives, a `null` field, single- and
    * multi-branch unions, bytes, fixed, enum, a nested record, a map of
    * nullable records and an array with null elements. */
  private val everySchema = new Schema.Parser().parse(
    """{"type":"record","name":"Every","fields":[
      | {"name":"s","type":"string"},
      | {"name":"i","type":"int"},
      | {"name":"l","type":"long"},
      | {"name":"f","type":"float"},
      | {"name":"d","type":"double"},
      | {"name":"b","type":"boolean"},
      | {"name":"n","type":"null"},
      | {"name":"by","type":"bytes"},
      | {"name":"fx","type":{"type":"fixed","name":"F4","size":4}},
      | {"name":"e","type":{"type":"enum","name":"Color","symbols":["RED","GREEN","BLUE"]}},
      | {"name":"os","type":["null","string"],"default":null},
      | {"name":"multi","type":["null","long","string","boolean"],"default":null},
      | {"name":"rec","type":{"type":"record","name":"Inner","fields":[
      |   {"name":"x","type":["null","double"],"default":null},
      |   {"name":"tags","type":{"type":"array","items":"string"}}]}},
      | {"name":"m","type":{"type":"map","values":["null","Inner"]}},
      | {"name":"arr","type":{"type":"array","items":["null","int"]}},
      | {"name":"mm","type":["null",{"type":"map","values":"long"}],"default":null}
      |]}""".stripMargin)

  private def randomText(rnd: scala.util.Random): String = {
    val alphabet = "ab-_Z9 é€😀/\u0000"
    Iterator.fill(rnd.nextInt(8))(alphabet(rnd.nextInt(alphabet.length))).mkString
  }

  /** `n` random records of [[everySchema]], written to a container and
    * decoded back, so every datum has the decoder's own classes. */
  private def everyRecords(n: Int, seed: Long): Seq[GenericRecord] = {
    val rnd = new scala.util.Random(seed)
    def field(name: String) = everySchema.getField(name).schema()
    val inner = field("rec")
    def innerRec(): GenericRecord = {
      val r = new GenericData.Record(inner)
      r.put("x", if (rnd.nextBoolean()) rnd.nextDouble() else null)
      val tags = new java.util.ArrayList[String]()
      (0 until rnd.nextInt(3)).foreach(_ => tags.add(randomText(rnd)))
      r.put("tags", tags)
      r
    }
    val written = (0 until n).map { _ =>
      val r = new GenericData.Record(everySchema)
      r.put("s", randomText(rnd))
      r.put("i", rnd.nextInt())
      r.put("l", rnd.nextLong())
      r.put("f", rnd.nextFloat())
      r.put("d", rnd.nextDouble())
      r.put("b", rnd.nextBoolean())
      r.put("n", null)
      r.put("by", ByteBuffer.wrap(Array.fill(rnd.nextInt(5))(rnd.nextInt(256).toByte)))
      r.put("fx", new GenericData.Fixed(field("fx"), Array.fill(4)(rnd.nextInt(256).toByte)))
      r.put("e", new GenericData.EnumSymbol(field("e"), Seq("RED", "GREEN", "BLUE")(rnd.nextInt(3))))
      r.put("os", if (rnd.nextBoolean()) randomText(rnd) else null)
      r.put("multi", rnd.nextInt(4) match {
        case 0 => null
        case 1 => rnd.nextLong()
        case 2 => randomText(rnd)
        case _ => rnd.nextBoolean()
      })
      r.put("rec", innerRec())
      // keys in an order no hash map would keep
      val m = new java.util.LinkedHashMap[String, GenericRecord]()
      Seq("zeta", "alpha", "mid", "beta").take(rnd.nextInt(5)).foreach { k =>
        m.put(k, if (rnd.nextBoolean()) innerRec() else null)
      }
      r.put("m", m)
      val arr = new java.util.ArrayList[Any]()
      (0 until rnd.nextInt(4)).foreach(_ => arr.add(if (rnd.nextBoolean()) rnd.nextInt() else null))
      r.put("arr", arr)
      r.put("mm", if (rnd.nextBoolean()) null else {
        val mm = new java.util.LinkedHashMap[String, Long]()
        mm.put("k2", rnd.nextLong()); mm.put("k1", rnd.nextLong())
        mm
      })
      r
    }
    val out = new java.io.ByteArrayOutputStream()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](everySchema))
    w.create(everySchema, out)
    written.foreach(w.append)
    w.close()
    val in = new org.apache.avro.file.DataFileStream(
      new java.io.ByteArrayInputStream(out.toByteArray),
      new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
    try {
      import scala.jdk.CollectionConverters._
      in.iterator.asScala.toVector
    } finally in.close()
  }

  /** A Catalyst value as plain Scala values that compare by content: maps
    * become their `(key, value)` pairs IN ORDER, binaries byte sequences. */
  private def plain(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (r: InternalRow, st: StructType) =>
      st.fields.toSeq.zipWithIndex.map { case (f, i) => plain(r.get(i, f.dataType), f.dataType) }
    case (a: ArrayData, at: ArrayType) =>
      (0 until a.numElements).map(i => plain(a.get(i, at.elementType), at.elementType))
    case (m: MapData, mt: MapType) =>
      plain(m.keyArray, ArrayType(mt.keyType)).asInstanceOf[Seq[Any]]
        .zip(plain(m.valueArray, ArrayType(mt.valueType)).asInstanceOf[Seq[Any]])
    case (b: Array[Byte], BinaryType) => b.toSeq
    case (s: UTF8String, StringType) => s.toString
    case (other, _) => other
  }

  private def reference(target: StructType): Any => Any =
    CatalystTypeConverters.createToCatalystConverter(target)

  test("converter parity: every Avro type equals the Row-based reference") {
    val target = AvroSchemas.toSparkType(everySchema).asInstanceOf[StructType]
    val convert = AvroSchemas.converter(everySchema, target)
    val toCatalyst = reference(target)
    val records = everyRecords(300, seed = 7)
    records.foreach { rec =>
      val got = convert(rec)
      val want = toCatalyst(AvroReference.toSparkValue(rec, everySchema))
      assert(plain(got, target) == plain(want, target), rec.toString)
    }
    // the fixture really covers nulls, every union branch and map sizes
    assert(records.exists(_.get("os") == null) && records.exists(_.get("os") != null))
    assert(records.map(r => Option(r.get("multi")).map(_.getClass)).distinct.size == 4)
    assert(records.exists(_.get("m").asInstanceOf[java.util.Map[_, _]].size == 4))
  }

  test("converter parity: map keys keep their encounter order") {
    val target = AvroSchemas.toSparkType(everySchema).asInstanceOf[StructType]
    val convert = AvroSchemas.converter(everySchema, target)
    val mIndex = target.fieldIndex("m")
    val mType = target("m").dataType.asInstanceOf[MapType]
    everyRecords(100, seed = 11).foreach { rec =>
      import scala.jdk.CollectionConverters._
      val decoded = rec.get("m").asInstanceOf[java.util.Map[Any, Any]].keySet.iterator.asScala
        .map(_.toString).toSeq
      val keys = plain(convert(rec).getMap(mIndex), mType).asInstanceOf[Seq[(Any, Any)]].map(_._1)
      assert(keys == decoded)
    }
    // an insertion-ordered map keeps its insertion order
    val rec = new GenericData.Record(everyRecords(1, seed = 11).head.asInstanceOf[GenericData.Record], true)
    val ordered = new java.util.LinkedHashMap[String, GenericRecord]()
    Seq("zeta", "alpha", "mid", "beta").foreach(ordered.put(_, null))
    rec.put("m", ordered)
    val keys = plain(convert(rec).getMap(mIndex), mType).asInstanceOf[Seq[(Any, Any)]].map(_._1)
    assert(keys == Seq("zeta", "alpha", "mid", "beta"))
  }

  test("converter parity: by-name projection with an added and a missing field") {
    // the read schema drops `n`, adds `absent`, reorders the rest and
    // projects the nested record and the map values onto a narrower Inner
    val narrowInner = StructType(Seq(
      StructField("tags", ArrayType(StringType, containsNull = false)),
      StructField("gone", LongType)))
    val target = StructType(Seq(
      StructField("absent", StringType),
      StructField("multi", StringType),
      StructField("e", StringType),
      StructField("rec", narrowInner),
      StructField("m", MapType(StringType, narrowInner)),
      StructField("s", StringType, nullable = false),
      StructField("l", LongType, nullable = false)))
    val convert = AvroSchemas.converter(everySchema, target)
    val toCatalyst = reference(target)
    everyRecords(200, seed = 13).foreach { rec =>
      val got = convert(rec)
      val want = toCatalyst(AvroReference.toSparkValueAs(rec, everySchema, target))
      assert(plain(got, target) == plain(want, target), rec.toString)
      assert(got.isNullAt(0))
    }
  }
}
