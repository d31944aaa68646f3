package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalyst.SanitizeId

/** Scalar string/byte helpers mirroring the reference's derived-column
  * surface (SURVEY §2.3), expressed with codegen'd expressions only.
  */
object Strings {

  /** ID sanitization (reference: path/RecordPathFactory.kt:120,126-129):
    * strip everything but `[a-zA-Z0-9_-]` (the [[SanitizeId]] byte loop),
    * and substitute `default` when the input is null or sanitizes to
    * empty. */
  def sanitizeId(c: Column, default: String): Column = {
    val cleaned = GraftBridge.column(
      SanitizeId(GraftBridge.expression(coalesce(c.cast(StringType), lit("")))))
    when(cleaned === "", lit(default)).otherwise(cleaned)
  }

  /** Unpadded base64 of a binary column (reference encodes bytes/fixed as
    * base64 without padding, format/CsvAvroDataConverter.kt:69-76,93-95). */
  def base64Unpadded(c: Column): Column =
    regexp_replace(base64(c), "=+$", "")

  /** Kafka-sink filename pattern:
    * `<topic>+<partition>+<startOffset>[+<endOffset>].avro`
    * (reference: accounting/TopicPartitionOffsetRange.kt:50-61). */
  val FilenameRegex = "([^/+]+)\\+(\\d+)\\+(\\d+)(?:\\+(\\d+))?\\.avro$"

  /** Topic name extracted from a sink filename. */
  def filenameTopic(c: Column): Column = regexp_extract(c, FilenameRegex, 1)

  /** Kafka partition extracted from a sink filename. */
  def filenamePartition(c: Column): Column =
    regexp_extract(c, FilenameRegex, 2).cast(IntegerType)

  /** Start offset extracted from a sink filename. */
  def filenameStartOffset(c: Column): Column =
    regexp_extract(c, FilenameRegex, 3).cast(LongType)

  /** End offset (nullable — older sink versions omit it). */
  def filenameEndOffset(c: Column): Column = {
    val s = regexp_extract(c, FilenameRegex, 4)
    when(s === "", lit(null).cast(LongType)).otherwise(s.cast(LongType))
  }

  /** Output-path template (reference: path/FormattedPathFactory.kt:31-104).
    * Supports `${topic} ${projectId} ${userId} ${sourceId} ${filename}
    * ${attempt} ${extension}` and `${time:<pattern>}` params; every param is
    * a Column so the path is a derived column usable in `partitionBy` or
    * `concat_ws` layouts. */
  def templatePath(template: String, params: Map[String, Column], ts: Column): Column = {
    val token = "\\$\\{([^}]+)\\}".r
    val parts = scala.collection.mutable.ArrayBuffer.empty[Column]
    var last = 0
    token.findAllMatchIn(template).foreach { m =>
      if (m.start > last) parts += lit(template.substring(last, m.start))
      val name = m.group(1)
      if (name.startsWith("time:")) parts += date_format(ts, name.stripPrefix("time:"))
      else parts += params.getOrElse(name,
        throw new IllegalArgumentException(s"unknown path parameter: $name"))
      last = m.end
    }
    if (last < template.length) parts += lit(template.substring(last))
    concat(parts.toSeq: _*)
  }
}
