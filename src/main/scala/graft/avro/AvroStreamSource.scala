package graft.avro

import org.apache.avro.Schema
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import java.util
import scala.jdk.CollectionConverters._

/** DataSource V2 micro-batch streaming source for the reference's Avro
  * topic layout (`<topicDir>/partition=<p>/<topic>+<p>+<start>[+<end>].avro`)
  * — the Structured Streaming re-expression of the reference's polling
  * service mode (SURVEY §2.8 W2): each trigger processes exactly the sink
  * files that appeared since the last checkpointed offset.
  *
  * Usage:
  * {{{
  *   spark.readStream
  *     .format("graft.avro.AvroStreamSource")
  *     .load(topicDir)           // one topic directory
  * }}}
  *
  * Offset model: the streaming Offset is the per-Kafka-partition maximum
  * file START offset that has been planned (files are immutable once the
  * sink closes them, and per partition they arrive in ascending offset
  * order — the same assumptions the reference's filename accounting makes).
  * A micro-batch is "every file whose start offset lies in (committed,
  * latest]"; planning is therefore deterministic from the two offsets and a
  * directory listing, and replay after a crash re-reads exactly the files
  * of the uncommitted batch. One InputPartition per file — the file is both
  * the unit of offset accounting and bounded by the sink's flush policy, so
  * tasks parallelize evenly across executors.
  *
  * Output schema: `_file`, `_row_index`, then the writer schema's fields
  * (same shape as [[AvroSource.read]], so the whole batch operator chain —
  * flatten, time cascade, dedup — applies unchanged to the stream).
  */
class AvroStreamSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AvroStreamSource.schemaFor(options.get("path"))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AvroStreamTable(schema, properties.get("path"))
}

object AvroStreamSource {
  /** The one sink-filename pattern (graft.functions.Strings.FilenameRegex),
    * shared with batch listing and the column-extraction scalars. */
  val FilenameRe = graft.functions.Strings.FilenameRegex.r

  private def hadoopConf = SparkSession.active.sessionState.newHadoopConf()

  /** (partition, startOffset, status) for every sink file under the topic
    * dir, ascending by (partition, startOffset). */
  def listFiles(dir: String): Seq[(Int, Long, FileStatus)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(hadoopConf)
    if (!fs.exists(p)) return Seq.empty
    val it = fs.listFiles(p, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, FileStatus)]
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getLen > 0) {
        FilenameRe.findFirstMatchIn(s.getPath.getName).foreach { m =>
          out += ((m.group(2).toInt, m.group(3).toLong, s))
        }
      }
    }
    out.sortBy(f => (f._1, f._2)).toSeq
  }

  def schemaFor(dir: String): StructType = {
    val files = listFiles(dir)
    require(files.nonEmpty, s"no avro sink files under $dir to infer a schema from")
    val p = files.head._3.getPath
    val fs = p.getFileSystem(hadoopConf)
    val avro = AvroSource.writerSchema(() => fs.open(p))
    // payload fields FORCED nullable: the schema comes from ONE file's
    // writer schema, but the partition reader resolves drifted files by
    // name and emits null for fields a file's own writer schema lacks —
    // a non-nullable field Catalyst trusts would then carry injected
    // nulls straight into codegen that skips the null checks
    val fields = AvroSchemas.toSparkType(avro).asInstanceOf[StructType]
      .fields.map(f => f.copy(nullable = true))
    StructType(
      StructField("_file", StringType, nullable = false) +:
        StructField("_row_index", LongType, nullable = false) +: fields)
  }
}

/** Offset = max planned file start offset per Kafka partition. */
case class AvroStreamOffset(maxStart: Map[Int, Long]) extends Offset {
  override def json(): String =
    maxStart.toSeq.sorted
      .map { case (p, o) => s""""$p":$o""" }
      .mkString("{", ",", "}")
}

object AvroStreamOffset {
  val Empty: AvroStreamOffset = AvroStreamOffset(Map.empty)
  def fromJson(s: String): AvroStreamOffset = {
    val body = s.trim.stripPrefix("{").stripSuffix("}").trim
    if (body.isEmpty) Empty
    else AvroStreamOffset(
      body.split(",").map { kv =>
        val Array(k, v) = kv.split(":")
        k.trim.stripPrefix("\"").stripSuffix("\"").toInt -> v.trim.toLong
      }.toMap)
  }
}

final class AvroStreamTable(schema: StructType, path: String)
    extends Table with SupportsRead {
  override def name(): String = s"graft-avro-stream($path)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
          val maxFiles = Option(options.get("maxFilesPerTrigger")).map(_.toInt)
          maxFiles.foreach(n => require(n > 0,
            s"maxFilesPerTrigger must be positive, got $n (0 would stall the stream forever)"))
          new AvroMicroBatchStream(schema, path, maxFiles)
        }
        override def toBatch: Batch =
          throw new UnsupportedOperationException("streaming-only table")
      }
    }
}

/** `maxFilesPerTrigger` caps each micro-batch via admission control — a
  * catch-up after downtime becomes a sequence of bounded batches instead of
  * one giant one (files admitted in ascending (partition, offset) order, so
  * per-partition progress stays contiguous). Implements
  * SupportsTriggerAvailableNow itself so AvailableNow drains through the
  * SAME bounded-batch loop up to a start-of-run snapshot, rather than
  * Spark's wrapper collapsing everything into one batch. */
final class AvroMicroBatchStream(
    schema: StructType,
    path: String,
    maxFilesPerTrigger: Option[Int] = None)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // set once per AvailableNow run: files beyond this snapshot wait for the
  // next run, giving the trigger a well-defined finish line
  private var availableNowCap: Option[Map[Int, Long]] = None

  override def initialOffset(): Offset = AvroStreamOffset.Empty

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap =
      Some(reportLatestOffset().asInstanceOf[AvroStreamOffset].maxStart)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit) is called instead")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[AvroStreamOffset].maxStart
    val pending = AvroStreamSource.listFiles(path)
      .filter { case (p, s, _) =>
        s > from.getOrElse(p, Long.MinValue) &&
          availableNowCap.forall(cap => s <= cap.getOrElse(p, Long.MinValue))
      }
    val admitted = limit match {
      case m: ReadMaxFiles =>
        // round-robin across partitions (one file per partition per turn,
        // each partition's own files in offset order): a sorted-prefix
        // take would let a busy partition 0 starve the rest indefinitely
        // under a continuous trigger; rotation keeps per-partition
        // contiguity AND bounds every partition's latency
        val queues = pending.groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (_, fs) => scala.collection.mutable.Queue(fs.sortBy(_._2): _*) }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, FileStatus)]
        while (out.size < m.maxFiles() && queues.exists(_.nonEmpty))
          queues.foreach(q => if (q.nonEmpty && out.size < m.maxFiles()) out += q.dequeue())
        out.toSeq
      case _ => pending
    }
    if (admitted.isEmpty) AvroStreamOffset(from)
    else {
      val advanced = admitted.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      AvroStreamOffset(from ++ advanced)
    }
  }

  override def reportLatestOffset(): Offset = {
    val files = AvroStreamSource.listFiles(path)
    if (files.isEmpty) AvroStreamOffset.Empty
    else AvroStreamOffset(files.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap)
  }

  override def deserializeOffset(json: String): Offset =
    AvroStreamOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[AvroStreamOffset].maxStart
    val to = end.asInstanceOf[AvroStreamOffset].maxStart
    AvroStreamSource.listFiles(path)
      .filter { case (p, s, _) =>
        s > from.getOrElse(p, Long.MinValue) && s <= to.getOrElse(p, Long.MinValue)
      }
      .map { case (_, _, st) => AvroFilePartition(st.getPath.toString): InputPartition }
      .toArray
  }

  // broadcast, as Spark's own file scans do: each task of the batch
  // deserializes a handle, not the whole conf
  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    AvroFileReaderFactory(schema,
      spark.sparkContext.broadcast(new SerializableConfiguration(spark.sessionState.newHadoopConf())))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class AvroFilePartition(path: String) extends InputPartition

case class AvroFileReaderFactory(schema: StructType, conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new AvroFilePartitionReader(
      partition.asInstanceOf[AvroFilePartition].path, schema, conf.value.value)
}

/** Streams one container file; payload columns resolve against the file's
  * OWN writer schema BY NAME, projected onto the stream's read schema
  * ([[AvroSchemas.converter]]) — a topic whose writer schema drifted
  * additively mid-stream reads cleanly (new fields dropped, absent fields
  * null), instead of misaligning positional lookups. */
final class AvroFilePartitionReader(
    path: String,
    schema: StructType,
    conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val hp = new Path(path)
  private val in = hp.getFileSystem(conf).open(hp)
  private val stream = new DataFileStream(in, new GenericDatumReader[GenericRecord]())
  private val convert = AvroSchemas.converter(stream.getSchema, StructType(schema.fields.drop(2)))
  private val file = UTF8String.fromString(path)
  private var i = -1L
  private var current: InternalRow = _

  override def next(): Boolean =
    if (stream.hasNext) {
      val rec = stream.next()
      i += 1
      val out = new Array[Any](schema.size)
      out(0) = file
      out(1) = i
      convert.write(rec, out, 2)
      current = new GenericInternalRow(out)
      true
    } else false

  override def get(): InternalRow = current

  override def close(): Unit = { stream.close(); in.close() }
}
