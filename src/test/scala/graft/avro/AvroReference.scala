package graft.avro

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericEnumSymbol, GenericFixed, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.nio.ByteBuffer
import scala.jdk.CollectionConverters._

/** The Row-based Avro datum conversion the engine used before
  * [[AvroSchemas.converter]] wrote Catalyst values directly: each datum
  * becomes an external Spark value, which `CatalystTypeConverters` then
  * turns into a Catalyst one. Kept as the parity reference for
  * `AvroSourceSpec`. */
object AvroReference {

  /** Avro datum -> Spark external row value (for Row-based createDataFrame). */
  def toSparkValue(datum: Any, schema: Schema): Any = {
    if (datum == null) return null
    schema.getType match {
      case Schema.Type.RECORD =>
        val rec = datum.asInstanceOf[GenericRecord]
        Row.fromSeq(schema.getFields.asScala.map { f =>
          toSparkValue(rec.get(f.pos()), f.schema())
        }.toSeq)
      case Schema.Type.MAP =>
        // ListMap keeps the datum's encounter order: data-dependent CSV
        // headers (format/RecordConverterFactory.kt:115-127) name map-key
        // columns in the order the first record yields them, so the Spark
        // map value must iterate the same way the reference's converter does
        scala.collection.immutable.ListMap(
          datum.asInstanceOf[java.util.Map[Any, Any]].asScala.toSeq.map { case (k, v) =>
            k.toString -> toSparkValue(v, schema.getValueType)
          }: _*)
      case Schema.Type.ARRAY =>
        datum.asInstanceOf[java.util.Collection[Any]].asScala
          .map(toSparkValue(_, schema.getElementType)).toSeq
      case Schema.Type.UNION =>
        val branches = schema.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
        if (branches.size == 1) toSparkValue(datum, branches.head)
        else String.valueOf(resolveUnionValue(datum))
      case Schema.Type.BYTES =>
        val bb = datum.asInstanceOf[ByteBuffer]
        val out = new Array[Byte](bb.remaining())
        bb.duplicate().get(out)
        out
      case Schema.Type.FIXED =>
        datum.asInstanceOf[GenericFixed].bytes().clone()
      case Schema.Type.ENUM | Schema.Type.STRING => datum.toString
      case Schema.Type.INT     => datum.asInstanceOf[Number].intValue()
      case Schema.Type.LONG    => datum.asInstanceOf[Number].longValue()
      case Schema.Type.FLOAT   => datum.asInstanceOf[Number].floatValue()
      case Schema.Type.DOUBLE  => datum.asInstanceOf[Number].doubleValue()
      case Schema.Type.BOOLEAN => datum.asInstanceOf[Boolean]
      case Schema.Type.NULL    => null
    }
  }

  /** Avro datum -> Spark value PROJECTED onto a target Spark type: record
    * fields resolve by NAME — a field missing from the writer schema reads
    * as null, an extra one is dropped — so a reader pinned to one schema
    * can consume files whose writer schema drifted additively (the stream
    * reader's situation; the batch path instead groups files by
    * fingerprint). Incompatible scalar drift (same name, new type) still
    * fails loudly at the Catalyst conversion, by design. */
  def toSparkValueAs(datum: Any, schema: Schema, target: DataType): Any = {
    if (datum == null) return null
    (target, schema.getType) match {
      case (t, Schema.Type.UNION) =>
        val branches = schema.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
        if (branches.size == 1) toSparkValueAs(datum, branches.head, t)
        else if (t == StringType) toSparkValue(datum, schema)
        else {
          // additively WIDENED union (read schema expects one branch, the
          // writer added more): resolve the datum's actual branch and keep
          // projecting onto the target instead of string-rendering it
          val idx = org.apache.avro.generic.GenericData.get().resolveUnion(schema, datum)
          toSparkValueAs(datum, schema.getTypes.get(idx), t)
        }
      case (st: StructType, Schema.Type.RECORD) =>
        val rec = datum.asInstanceOf[GenericRecord]
        Row.fromSeq(st.fields.toSeq.map { f =>
          val af = schema.getField(f.name)
          if (af == null) null
          else toSparkValueAs(rec.get(af.pos()), af.schema(), f.dataType)
        })
      case (at: ArrayType, Schema.Type.ARRAY) =>
        datum.asInstanceOf[java.util.Collection[Any]].asScala
          .map(toSparkValueAs(_, schema.getElementType, at.elementType)).toSeq
      case (mt: MapType, Schema.Type.MAP) =>
        scala.collection.immutable.ListMap(
          datum.asInstanceOf[java.util.Map[Any, Any]].asScala.toSeq.map { case (k, v) =>
            k.toString -> toSparkValueAs(v, schema.getValueType, mt.valueType)
          }: _*)
      case _ => toSparkValue(datum, schema)
    }
  }

  /** Render a heterogeneous-union datum: recurse into the obvious scalar
    * cases; anything structured falls back to toString. */
  private def resolveUnionValue(datum: Any): Any = datum match {
    case u: Utf8       => u.toString
    case e: GenericEnumSymbol[_] => e.toString
    case other         => other
  }
}
