package graft.avro

import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.{CollectionAccumulator, SerializableConfiguration}

import graft.restructure.TopicFile

import java.io.{ByteArrayInputStream, FileNotFoundException}
import java.util
import scala.jdk.CollectionConverters._

import AvroSource.{CorruptContainerException, FileConstants}

/** One sink file of a scan (the unit of parallelism), with the constants
  * its rows carry (`None`: the scan's rows carry none). */
private[graft] final case class AvroFilePartition(path: String, constants: Option[FileConstants])
    extends InputPartition

private[graft] object AvroFilePartition {
  /** A listed sink file whose rows carry its constants. */
  def apply(f: TopicFile): AvroFilePartition =
    AvroFilePartition(f.path, Some(FileConstants(f.partition, f.startOffset, f.lastModified)))
}

/** How a scan's tasks read their files (see [[AvroSource.read]]), and
  * where each reports `(path, rows emitted)`. */
private[graft] final case class AvroReading(
    tolerant: Boolean,
    backoffMs: Long,
    rowsEmitted: Option[CollectionAccumulator[(String, Long)]])

/** DataSource V2 provider of the reference's Avro topic layout
  * (`<topicDir>/partition=<p>/<topic>+<p>+<start>[+<end>].avro`) — the
  * Structured Streaming re-expression of the reference's polling service
  * mode (SURVEY §2.8 W2): each trigger processes exactly the sink files
  * that appeared since the last checkpointed offset.
  *
  * Usage:
  * {{{
  *   spark.readStream
  *     .format("graft.avro.AvroStreamSource")
  *     .load(topicDir)           // one topic directory
  * }}}
  *
  * The table is the batch's own [[AvroTable]], read as a default-config
  * batch reads: tolerant, with the default backoff. A file a micro-batch
  * quarantines is passed by the checkpoint, so a repaired re-upload under
  * the same name is re-read only by a batch `Restructure.run()`. The dir
  * is listed by [[TopicFile.list]], and the rows carry each file's
  * constants. A given schema is used as is, so a dir without files reads
  * as an empty stream; a batch read reads every listed file.
  */
class AvroStreamSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AvroStreamSource.schemaFor(options.get("path"))

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val dir = properties.get("path")
    new AvroTable(schema, () => AvroStreamSource.files(dir),
      AvroReading(tolerant = true, backoffMs = 1000L, rowsEmitted = None))
  }
}

object AvroStreamSource {

  /** The topic dir's non-empty sink files, ascending by (partition, start
    * offset), each with its constants. */
  private[avro] def files(dir: String): Seq[AvroFilePartition] = {
    val p = new Path(dir)
    TopicFile.list(p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration), p, p.getName)
      .filter(_.length > 0)
      .sortBy(f => (f.partition, f.startOffset))
      .map(AvroFilePartition(_))
  }

  /** The stream's columns, from the writer schema of the topic dir's first
    * file whose header reads; a file whose header is corrupt is
    * quarantined on the way, as a batch's schema grouping does. None for a
    * dir without such a file. */
  def schemaOf(dir: String): Option[StructType] =
    files(dir).iterator
      .flatMap(f => AvroSource.schemaGroups(SparkSession.active, Seq(f.path), tolerant = true))
      .nextOption().map { case (avro, _) =>
        // payload fields FORCED nullable: the schema comes from ONE file's
        // writer schema, but the reader resolves drifted files by name and
        // emits null for fields a file's own writer schema lacks — a
        // non-nullable field Catalyst trusts would then carry injected nulls
        // straight into codegen that skips the null checks
        val payload = AvroSchemas.toSparkType(avro).asInstanceOf[StructType]
        AvroSource.scanSchema(StructType(payload.fields.map(_.copy(nullable = true))), constants = true)
      }

  def schemaFor(dir: String): StructType =
    schemaOf(dir).getOrElse(
      throw new IllegalArgumentException(s"no avro sink files under $dir to infer a schema from"))
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

/** The one Avro scan, for batch reads ([[AvroSource.read]]) and the
  * micro-batch stream ([[AvroStreamSource]]). `files` lists the sink
  * files the scan may read, with their constants: a batch scan reads all
  * of them, a stream the ones its trigger admits. Columns are
  * [[AvroSource.scanSchema]]'s. */
private[graft] final class AvroTable(
    schema: StructType,
    files: () => Seq[AvroFilePartition],
    reading: AvroReading)
    extends Table with SupportsRead {
  override def name(): String = "graft-avro"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new AvroScan(schema, files, reading, options)
}

/** A scan of an [[AvroTable]]: a batch of all its files, or a micro-batch
  * stream over them.
  *
  * Stream offsets are per Kafka partition: the maximum file START offset
  * planned (files are immutable once the sink closes them, and per
  * partition they arrive in ascending offset order — the assumptions the
  * reference's filename accounting makes). A micro-batch is every file
  * whose start offset lies in (committed, latest], so planning is
  * deterministic from the two offsets and a listing, and replay after a
  * crash re-reads exactly the files of the uncommitted batch.
  *
  * `maxFilesPerTrigger` caps each micro-batch via admission control — a
  * catch-up after downtime becomes a sequence of bounded batches instead
  * of one giant one. AvailableNow drains through the SAME bounded-batch
  * loop up to a start-of-run snapshot, rather than Spark's wrapper
  * collapsing everything into one batch. */
private final class AvroScan(
    schema: StructType,
    files: () => Seq[AvroFilePartition],
    reading: AvroReading,
    options: CaseInsensitiveStringMap)
    extends Scan with Batch
    with MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  override def readSchema(): StructType = schema

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = files().toArray

  // broadcast, as Spark's own file scans do: an executor fetches and
  // deserializes the conf once, and each task carries a handle
  override def createReaderFactory(): PartitionReaderFactory = {
    val sc = SparkSession.active.sparkContext
    AvroReaderFactory(schema, reading,
      sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration)))
  }

  private val maxFilesPerTrigger = Option(options.get("maxFilesPerTrigger")).map(_.toInt)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    maxFilesPerTrigger.foreach(n => require(n > 0,
      s"maxFilesPerTrigger must be positive, got $n (0 would stall the stream forever)"))
    this
  }

  /** The listed files as (partition, start offset, file): a stream's files
    * always carry their constants. */
  private def listed(): Seq[(Int, Long, AvroFilePartition)] =
    files().map { f => val c = f.constants.get; (c.partition, c.startOffset, f) }

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
    val pending = listed()
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
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, AvroFilePartition)]
        while (out.size < m.maxFiles() && queues.exists(_.nonEmpty))
          queues.foreach(q => if (q.nonEmpty && out.size < m.maxFiles()) out += q.dequeue())
        out.toSeq
      case _ => pending
    }
    AvroStreamOffset(from ++ maxStarts(admitted))
  }

  override def reportLatestOffset(): Offset = AvroStreamOffset(maxStarts(listed()))

  private def maxStarts(files: Seq[(Int, Long, AvroFilePartition)]): Map[Int, Long] =
    files.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap

  override def deserializeOffset(json: String): Offset =
    AvroStreamOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[AvroStreamOffset].maxStart
    val to = end.asInstanceOf[AvroStreamOffset].maxStart
    listed()
      .filter { case (p, s, _) =>
        s > from.getOrElse(p, Long.MinValue) && s <= to.getOrElse(p, Long.MinValue)
      }
      .map(_._3: InputPartition)
      .toArray
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private final case class AvroReaderFactory(
    schema: StructType,
    reading: AvroReading,
    conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new AvroPartitionReader(partition.asInstanceOf[AvroFilePartition], schema, reading, conf.value.value)
}

/** Reads one sink file into Catalyst rows: `_file`, `_row_index`, the
  * payload, then the file's constants if it has them.
  *
  * The file decodes with its own writer schema, projected by name onto the
  * scan's payload columns ([[AvroSchemas.converter]]): a file whose schema
  * drifted additively reads with new fields dropped and absent ones null.
  *
  * A tolerant read is [[buffered]]; otherwise the container streams. A
  * file read to the end reports `(path, rows emitted)`; an empty, vanished
  * or quarantined file reports nothing, and neither does a reader closed
  * early. */
private final class AvroPartitionReader(
    file: AvroFilePartition,
    schema: StructType,
    reading: AvroReading,
    conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val hp = new Path(file.path)
  private val fs = hp.getFileSystem(conf)
  private val width = schema.length
  private val payload = StructType(schema.fields.slice(2, width - file.constants.fold(0)(_ => 3)))
  private val pathValue = UTF8String.fromString(file.path)
  private var closeInput: () => Unit = () => ()
  private var emitted = 0L
  private var finished = false
  private var current: InternalRow = _

  // None: a file that reports no count
  private val rows: Option[Iterator[InternalRow]] = {
    // zero-length guard (P8); in tolerant mode a vanished file (races with
    // quarantine when the plan executes more than once) reads as empty
    // rather than failing the stage
    val len =
      try fs.getFileStatus(hp).getLen
      catch { case _: FileNotFoundException if reading.tolerant => -1L }
    if (len <= 0) None
    else if (reading.tolerant) buffered()
    else {
      val in = fs.open(hp)
      val stream =
        try new DataFileStream(in, new GenericDatumReader[GenericRecord]())
        catch { case e: Throwable => in.close(); throw e }
      closeInput = () => { stream.close(); in.close() }
      Some(decode(stream))
    }
  }

  private def decode(stream: DataFileStream[GenericRecord]): Iterator[InternalRow] = {
    val convert = AvroSchemas.converter(stream.getSchema, payload)
    var i = -1L
    stream.iterator.asScala.map { rec =>
      i += 1
      val out = new Array[Any](width)
      out(0) = pathValue
      out(1) = i
      convert.write(rec, out, 2)
      file.constants.foreach { c =>
        out(width - 3) = c.partition
        out(width - 2) = c.startOffset
        out(width - 1) = c.mtimeMs * 1000L
      }
      new GenericInternalRow(out): InternalRow
    }
  }

  /** FETCH-then-decode: transient IO is confined to the byte fetch
    * (length-verified, retried). Everything after operates on complete
    * in-memory bytes, so any failure — structural invalidity (truncated
    * container, bad sync) OR an undecodable datum inside a structurally
    * valid block (the case a stream-based read could not tell apart from a
    * connection reset) — is a deterministic property of the bytes and
    * quarantines, the reference's posture (FileCache.kt:172-201). Transient
    * errors that exhaust their retries propagate: Spark retries the task,
    * and a persistent storage outage fails the job instead of silently
    * dropping a healthy file's records. */
  private def buffered(): Option[Iterator[InternalRow]] =
    try {
      val bytes = AvroSource.faultTolerant(backoffMs = reading.backoffMs)(_ =>
        AvroSource.readFullyVerified(fs, hp))
      // structural check first: DataFileStream reads a truncated container
      // as a clean short file, so corruption must be detected at the byte
      // level to be distinguishable. It also bounds every declared block
      // size by the real file length, so the decode below cannot be driven
      // into huge allocations
      if (!AvroSource.validateContainer(() => new ByteArrayInputStream(bytes), bytes.length))
        throw new CorruptContainerException(s"invalid avro container: ${file.path}")
      val decoded =
        try {
          val stream = new DataFileStream(new ByteArrayInputStream(bytes),
            new GenericDatumReader[GenericRecord]())
          try decode(stream).toVector // all-or-nothing: buffer before emitting
          finally stream.close()
        } catch {
          case e if AvroSource.isCorruption(e) => throw e
          case scala.util.control.NonFatal(e) =>
            throw new CorruptContainerException(
              s"undecodable avro container: ${file.path} (${e.getMessage})")
        }
      Some(decoded.iterator)
    } catch {
      case _: FileNotFoundException => None // raced deletion
      case e if AvroSource.isCorruption(e) =>
        AvroSource.quarantine(fs, hp) // corrupt container: set it aside, emit nothing
        None
    }

  override def next(): Boolean = {
    val more = rows.exists(_.hasNext)
    if (more) {
      current = rows.get.next()
      emitted += 1
    } else if (rows.isDefined && !finished) {
      finished = true
      close()
      reading.rowsEmitted.foreach(_.add((file.path, emitted)))
    }
    more
  }

  override def get(): InternalRow = current

  override def close(): Unit = {
    closeInput()
    closeInput = () => ()
  }
}
