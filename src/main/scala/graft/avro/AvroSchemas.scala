package graft.avro

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericFixed, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.ByteBuffer
import scala.jdk.CollectionConverters._

/** Avro <-> Spark schema and datum conversion for the engine's own Avro
  * source (no spark-avro on the classpath; the Avro core jars are).
  *
  * Type mapping mirrors the reference's converter surface
  * (format/CsvAvroDataConverter.kt:42-87, see SURVEY §1.2): records nest,
  * maps/arrays preserved as Spark MapType/ArrayType, unions resolve to the
  * single non-null branch (multi-branch unions are resolved per datum to
  * their first matching branch's Spark type rendered as string), bytes/fixed
  * -> BinaryType, enum/string -> StringType.
  */
object AvroSchemas {

  /** Avro schema -> Spark DataType. */
  def toSparkType(schema: Schema): DataType = schema.getType match {
    case Schema.Type.RECORD =>
      StructType(schema.getFields.asScala.map { f =>
        StructField(f.name, toSparkType(f.schema()), nullable = isNullable(f.schema()))
      }.toSeq)
    case Schema.Type.MAP =>
      MapType(StringType, toSparkType(schema.getValueType))
    case Schema.Type.ARRAY =>
      ArrayType(toSparkType(schema.getElementType))
    case Schema.Type.UNION =>
      val branches = schema.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
      if (branches.size == 1) toSparkType(branches.head)
      else StringType // heterogeneous union: render datum as string
    case Schema.Type.BYTES | Schema.Type.FIXED => BinaryType
    case Schema.Type.ENUM | Schema.Type.STRING => StringType
    case Schema.Type.INT                       => IntegerType
    case Schema.Type.LONG                      => LongType
    case Schema.Type.FLOAT                     => FloatType
    case Schema.Type.DOUBLE                    => DoubleType
    case Schema.Type.BOOLEAN                   => BooleanType
    case Schema.Type.NULL                      => NullType
  }

  def isNullable(schema: Schema): Boolean = schema.getType match {
    case Schema.Type.UNION => schema.getTypes.asScala.exists(_.getType == Schema.Type.NULL)
    case Schema.Type.NULL  => true
    case _                 => false
  }

  /** The one Avro → Catalyst converter: built once per (writer schema,
    * target struct), it writes Catalyst values — `UTF8String`,
    * `GenericInternalRow`, `GenericArrayData`, `ArrayBasedMapData` —
    * straight from a `GenericRecord`, one step per field. Records resolve
    * BY NAME onto the target: a target field the writer lacks reads as
    * null and a writer field the target lacks is dropped, so a reader
    * pinned to one schema consumes files whose writer schema drifted
    * additively (a stream's situation; the batch path groups files by
    * fingerprint, so its target is each file's own struct). A
    * multi-branch union becomes its datum's string rendering when the
    * target is a string, and otherwise resolves the datum's branch and
    * keeps projecting (a union widened after the read schema was pinned).
    * Incompatible drift (same name, new type) fails loudly on the first
    * datum that hits it. */
  def converter(writer: Schema, target: StructType): RecordConverter =
    new RecordConverter(writer, target)

  final class RecordConverter private[AvroSchemas] (writer: Schema, target: StructType) {
    require(writer.getType == Schema.Type.RECORD, s"not an Avro record: $writer")
    private val positions = target.fields.map(f => Option(writer.getField(f.name)).fold(-1)(_.pos))
    private val fields: Array[Any => Any] = target.fields.zip(positions).map {
      case (f, p) => if (p < 0) null else value(writer.getFields.get(p).schema(), f.dataType)
    }

    /** Write `rec`'s target fields into `out` from index `at`. */
    def write(rec: GenericRecord, out: Array[Any], at: Int): Unit = {
      var i = 0
      while (i < positions.length) {
        val p = positions(i)
        out(at + i) =
          if (p < 0) null
          else {
            val d = rec.get(p)
            if (d == null) null else fields(i)(d)
          }
        i += 1
      }
    }

    def apply(rec: GenericRecord): InternalRow = {
      val out = new Array[Any](positions.length)
      write(rec, out, 0)
      new GenericInternalRow(out)
    }
  }

  /** Converter of one non-null datum of `schema` to a Catalyst value of
    * `target`. */
  private def value(schema: Schema, target: DataType): Any => Any =
    (schema.getType, target) match {
      case (Schema.Type.UNION, t) =>
        val branches = schema.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
        if (branches.size == 1) value(branches.head, t)
        else if (t == StringType) utf8
        else {
          val byBranch = schema.getTypes.asScala.map(b =>
            if (b.getType == Schema.Type.NULL) null else value(b, t)).toArray
          d => byBranch(GenericData.get().resolveUnion(schema, d))(d)
        }
      case (Schema.Type.RECORD, st: StructType) =>
        val rc = new RecordConverter(schema, st)
        d => rc(d.asInstanceOf[GenericRecord])
      case (Schema.Type.MAP, mt: MapType) =>
        val v = value(schema.getValueType, mt.valueType)
        d => {
          // the map's own iteration order is kept: data-dependent CSV
          // headers (format/RecordConverterFactory.kt:115-127) name
          // map-key columns in the order the first record yields them
          val m = d.asInstanceOf[java.util.Map[Any, Any]]
          val keys = new Array[Any](m.size)
          val values = new Array[Any](m.size)
          var i = 0
          val it = m.entrySet.iterator
          while (it.hasNext) {
            val e = it.next()
            keys(i) = utf8(e.getKey)
            values(i) = if (e.getValue == null) null else v(e.getValue)
            i += 1
          }
          new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(values))
        }
      case (Schema.Type.ARRAY, at: ArrayType) =>
        val el = value(schema.getElementType, at.elementType)
        d => {
          val c = d.asInstanceOf[java.util.Collection[Any]]
          val out = new Array[Any](c.size)
          var i = 0
          val it = c.iterator
          while (it.hasNext) {
            val x = it.next()
            out(i) = if (x == null) null else el(x)
            i += 1
          }
          new GenericArrayData(out)
        }
      case (Schema.Type.STRING | Schema.Type.ENUM, StringType) => utf8
      case (Schema.Type.BYTES, BinaryType) =>
        d => {
          val bb = d.asInstanceOf[ByteBuffer]
          val out = new Array[Byte](bb.remaining())
          bb.duplicate().get(out)
          out
        }
      case (Schema.Type.FIXED, BinaryType) => d => d.asInstanceOf[GenericFixed].bytes().clone()
      // the decoder's boxed datum is already the Catalyst value
      case (Schema.Type.INT, IntegerType) | (Schema.Type.LONG, LongType) |
           (Schema.Type.FLOAT, FloatType) | (Schema.Type.DOUBLE, DoubleType) |
           (Schema.Type.BOOLEAN, BooleanType) => identity
      case (Schema.Type.NULL, _) => _ => null
      case (t, other) =>
        _ => throw new IllegalArgumentException(
          s"cannot read an Avro $t datum as ${other.simpleString} (${schema.getFullName})")
    }

  /** A string-like datum as a `UTF8String`: an Avro `Utf8` is wrapped
    * from its bytes, anything else (enum symbol, `String`, a union branch
    * rendered as text) goes through `toString`. */
  private val utf8: Any => Any = {
    case u: Utf8 => UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
    case other   => UTF8String.fromString(other.toString)
  }

  /** 64-bit schema fingerprint for grouping files by schema shape (the
    * Spark analog of the reference's attempt-suffix on schema drift,
    * worker/RestructureWorker.kt:148-163). */
  def fingerprint(schema: Schema): Long =
    org.apache.avro.SchemaNormalization.parsingFingerprint64(schema)
}
