package graft.restructure

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.hadoop.io.compress.{CompressionCodec, GzipCodec}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.hadoop.util.ReflectionUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.types.{DataType, StructType}

import graft.compression.ZipCodec

import java.io.{OutputStream, OutputStreamWriter}

/** The restructure job's CSV sink: Spark's CSV writer (its univocity
  * generator and CSV options, so the bytes are the same) over a stream
  * this format opens itself. A gzip or zip part checks its own content
  * (each ends in a CRC-32 of its data), so on the local filesystem it is
  * created through the raw filesystem and gets no `.crc` sidecar; every
  * other part keeps the checksummed create. Spark's `FileFormatWriter`
  * still owns the commit protocol, the dynamic `(project, user, bin)`
  * partitions and `maxRecordsPerFile`. Write-only: read the parts with
  * `csv`. */
final class CsvPartFormat extends FileFormat {

  override def toString: String = "CsvPartFormat"

  override def inferSchema(
      spark: SparkSession,
      options: Map[String, String],
      files: Seq[org.apache.hadoop.fs.FileStatus]): Option[StructType] =
    throw new UnsupportedOperationException("CsvPartFormat is write-only; read with csv")

  override def supportDataType(dataType: DataType): Boolean = new CSVFileFormat().supportDataType(dataType)

  override def prepareWrite(
      spark: SparkSession,
      job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val csv = new CSVOptions(CaseInsensitiveMap(options), false, spark.sessionState.conf.sessionLocalTimeZone)
    val codec = csv.compressionCodec.flatMap(Option(_)) // `none` resolves to null
    val extension = ".csv" + codec.fold("")(CsvPartFormat.newCodec(_, job.getConfiguration).getDefaultExtension)
    new CsvPartWriterFactory(csv, codec, extension)
  }
}

private object CsvPartFormat {
  def newCodec(cls: String, conf: org.apache.hadoop.conf.Configuration): CompressionCodec =
    ReflectionUtils.newInstance(conf.getClassByName(cls), conf).asInstanceOf[CompressionCodec]
}

private final class CsvPartWriterFactory(csv: CSVOptions, codec: Option[String], extension: String)
    extends OutputWriterFactory {

  override def getFileExtension(context: TaskAttemptContext): String = extension

  override def newInstance(path: String, dataSchema: StructType, context: TaskAttemptContext): OutputWriter = {
    val conf = context.getConfiguration
    val file = new Path(path)
    val c = codec.map(CsvPartFormat.newCodec(_, conf))
    val raw = file.getFileSystem(conf) match {
      case local: LocalFileSystem if c.exists(c => c.isInstanceOf[GzipCodec] || c.isInstanceOf[ZipCodec]) =>
        local.getRaw.create(file, false)
      case fs => fs.create(file, false)
    }
    val out = new OutputStreamWriter(c.fold[OutputStream](raw)(_.createOutputStream(raw)), csv.charset)
    val gen = new UnivocityGenerator(dataSchema, out, csv)
    if (csv.headerFlag) gen.writeHeaders()
    val written = path
    new OutputWriter {
      override def path: String = written
      override def write(row: InternalRow): Unit = gen.write(row)
      override def close(): Unit = gen.close()
    }
  }
}
