package graft.avro

import org.apache.avro.Schema
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Distributed reader for Avro object-container files (the Kafka-Connect
  * sink output the reference restructures; SURVEY §2.1 S3).
  *
  * spark-avro is not on this classpath, so this is a self-contained source:
  * the unit of parallelism is the FILE (matching the reference's model where
  * a file is one contiguous offset range of a topic-partition), each task
  * reads one container file through the one DSv2 scan ([[AvroTable]],
  * shared with the stream's [[AvroStreamSource]]) and attaches:
  *   - `_file`: the file path (for filename-metadata extraction, F6)
  *   - `_row_index`: the record's index within its file (deterministic under
  *     retries — file content defines it), which is exactly the reference's
  *     per-record offset assignment F7: kafkaOffset = startOffset + _row_index
  *     (worker/RestructureWorker.kt:116,127-128).
  *
  * At 100 TB scale the sink files are bounded (one per flush of one
  * topic-partition), so file-granular tasks parallelize naturally across
  * executors; schema drift within a topic is handled by grouping files by
  * writer-schema fingerprint BEFORE reading (schemaGroups), the plan-time
  * analog of the reference's write-retry attempt suffix.
  */
object AvroSource {

  /** Marks a DETERMINISTIC container-corruption failure (bad magic, sync
    * mismatch, truncation): the bytes on storage are wrong, so retrying is
    * pointless and quarantine is the correct response. Everything else —
    * timeouts, throttling, connection resets — is treated as transient:
    * retried, and if retries exhaust, PROPAGATED so the task fails loudly.
    * Quarantining on a transient error would silently lose a healthy
    * file's records forever (its range never commits, but listing only
    * matches *.avro so it would never be retried either). */
  final class CorruptContainerException(msg: String)
      extends java.io.IOException(msg)

  /** A file too large for one byte array. Not corruption (the file is
    * not quarantined) and not transient (no retry makes it fit): it
    * propagates at once and fails the task. */
  final class FileTooLargeException(msg: String)
      extends java.io.IOException(msg)

  /** IMPORTANT: AvroRuntimeException is NOT corruption evidence —
    * DataFileStream wraps transient IOExceptions from the underlying
    * stream in AvroRuntimeException (hasNext/next), so treating it as
    * deterministic would quarantine a healthy file on a connection reset.
    * Only the validator's own verdict (which is length-aware, see
    * validateContainer) and the unambiguous bad-magic signal qualify. */
  private[avro] def isCorruption(e: Throwable): Boolean = e match {
    case _: CorruptContainerException => true
    case io: java.io.IOException => // DataFileStream's bad-magic signal
      Option(io.getMessage).exists(_.toLowerCase.contains("not an avro data file"))
    case _ => false
  }

  /** Bounded retry with linear backoff, the reference's storage fault
    * tolerance (source/S3SourceStorage.kt:110-136): 3 attempts, sleep
    * (attempt+1)*backoff between them. FileNotFound (a raced deletion), a
    * file too large to buffer and deterministic corruption short-circuit —
    * none gets better by waiting. */
  def faultTolerant[T](attempts: Int = 3, backoffMs: Long = 1000L)(f: Int => T): T = {
    var last: Exception = null
    var i = 0
    while (i < attempts) {
      try return f(i)
      catch {
        case fnf: java.io.FileNotFoundException => throw fnf
        case big: FileTooLargeException => throw big
        case e: Exception if isCorruption(e) => throw e
        case e: Exception =>
          last = e
          if (i < attempts - 1) Thread.sleep((i + 1) * backoffMs)
      }
      i += 1
    }
    throw last
  }

  /** Move a corrupt file aside as `<name>.corrupted[-i]` (first free
    * suffix, matching worker/FileCache.kt:172-201) so the next pass does
    * not trip over it again. Returns the quarantine path, or None if the
    * rename failed (another task may have raced it). */
  def quarantine(fs: org.apache.hadoop.fs.FileSystem,
                 path: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] = {
    val candidates = Iterator.single("") ++ (0 until 100).iterator.map(i => s"-$i")
    val free = candidates
      .map(s => new org.apache.hadoop.fs.Path(path.getParent, s"${path.getName}.corrupted$s"))
      .find(p => !fs.exists(p))
    free.filter { target =>
      try fs.rename(path, target) catch { case _: Exception => false }
    }
  }

  /** Fetch a file's COMPLETE bytes, length-verified: a stream that ends
    * short of the file's stat'd length throws IOException (retried by
    * [[faultTolerant]]), so a returned array is proof the storage
    * delivered the whole object. That proof is what lets the tolerant
    * read classify EVERY later failure as deterministic: once the bytes
    * are complete and in memory, validation and decode are pure functions
    * of them — a failure cannot be transient IO, so quarantining is safe
    * (the failure mode the reference's corrupt-file handling covers,
    * worker/FileCache.kt:172-201). A file rewritten between stat and read
    * shows up as a length mismatch and simply retries against the new
    * stat. The read is sized by that stat: one `readFully` into a buffer
    * of the file's length, then one probe that the stream ends there. */
  private[graft] def readFullyVerified(fs: org.apache.hadoop.fs.FileSystem,
      hp: org.apache.hadoop.fs.Path): Array[Byte] = {
    val len = fs.getFileStatus(hp).getLen
    if (len > Int.MaxValue - 8)
      throw new FileTooLargeException(s"$len bytes do not fit one array: $hp")
    val in = fs.open(hp)
    try {
      val buf = new Array[Byte](len.toInt)
      try in.readFully(buf)
      catch {
        case e: java.io.EOFException =>
          throw new java.io.IOException(s"stream ended short of $len bytes: $hp", e)
      }
      if (in.read() != -1)
        throw new java.io.IOException(s"stream delivered more than $len bytes: $hp")
      buf
    } finally in.close()
  }

  /** Structural validation of an Avro object-container: walk the blocks
    * (count, size, data, sync) at the byte level — no datum decode — and
    * verify every sync marker, with EOF legal only at a block boundary.
    * Needed because DataFileStream treats EOF ANYWHERE as a clean end of
    * file: a truncated container silently yields fewer records instead of
    * an error (the reference merely logs the count mismatch,
    * worker/RestructureWorker.kt:76-80; quarantine needs a hard signal).
    * Cost: one streamed pass over the file, IO-bound, no allocation per
    * record. */
  /** Counts bytes actually delivered by the wrapped stream, so EOF inside
    * the validator can be attributed: fewer bytes than the file's known
    * length = the STREAM died (transient), full length = the FILE is
    * truncated relative to its own structure (deterministic). */
  private final class CountingInputStream(in: java.io.InputStream)
      extends java.io.FilterInputStream(in) {
    var count = 0L
    override def read(): Int = { val b = super.read(); if (b >= 0) count += 1; b }
    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      val n = super.read(buf, off, len); if (n > 0) count += n; n
    }
    override def skip(n: Long): Long = { val s = super.skip(n); count += s; s }
  }

  def validateContainer(open: () => java.io.InputStream, expectedLen: Long = -1L): Boolean = {
    val in = new CountingInputStream(open())
    // EOF/decode failure with the stream short of the file's known length
    // is a transient IO fault, not evidence about the bytes on storage —
    // surface it as IOException so the retry loop re-runs validation
    def shortStream(): Boolean = expectedLen >= 0 && in.count < expectedLen
    try {
      val dec = org.apache.avro.io.DecoderFactory.get().binaryDecoder(in, null)
      val magic = new Array[Byte](4)
      dec.readFixed(magic)
      if (!java.util.Arrays.equals(magic, Array[Byte]('O', 'b', 'j', 1))) return false
      var n = dec.readMapStart()
      while (n != 0) {
        var i = 0L
        while (i < n) { dec.skipString(); dec.skipBytes(); i += 1 }
        n = dec.mapNext()
      }
      val sync = new Array[Byte](16)
      dec.readFixed(sync)
      val blockSync = new Array[Byte](16)
      while (!dec.isEnd) {
        dec.readLong() // record count
        var remaining = dec.readLong() // block byte size
        while (remaining > 0) {
          val step = math.min(remaining, Int.MaxValue.toLong).toInt
          dec.skipFixed(step)
          remaining -= step
        }
        dec.readFixed(blockSync)
        if (!java.util.Arrays.equals(sync, blockSync)) return false
      }
      true
    } catch {
      case e: java.io.EOFException =>
        if (shortStream())
          throw new java.io.IOException(
            s"stream ended after ${in.count} of $expectedLen bytes", e)
        false // EOF at the file's real end inside a block: truncated
      // UnsupportedOperationException: a block or metadata count larger
      // than any Java array, which Avro refuses before reading further
      case e @ (_: org.apache.avro.AvroRuntimeException | _: UnsupportedOperationException) =>
        if (shortStream())
          throw new java.io.IOException(
            s"stream ended after ${in.count} of $expectedLen bytes", e)
        false
    } finally in.close()
  }

  /** Writer schema of one container file, read from its header (driver or
    * executor side; only the header block is consumed). STRICT: the
    * schema is round-tripped through a validating parser, because
    * DataFileStream parses header schemas leniently (name validation
    * off) — a damaged-but-JSON-valid schema (e.g. a flipped byte turning
    * a field name into `ti}e`) would otherwise pass planning here and
    * then kill the read tasks, whose per-task re-parse is strict
    * (AvroFuzzPropertySpec caught this live). The throw surfaces as a
    * deterministic header failure, which the tolerant path arbitrates
    * into quarantine. */
  def writerSchema(open: () => java.io.InputStream): Schema = {
    val in = open()
    try {
      val s = new DataFileStream(in, new GenericDatumReader[GenericRecord]())
      try new Schema.Parser().parse(s.getSchema.toString) finally s.close()
    } finally in.close()
  }

  /** Group files by writer-schema fingerprint. Returns (schema, paths) per
    * distinct schema shape, in first-seen order. The header reads happen on
    * the driver: cheap (one small read per file) and required for planning;
    * for very large file counts this could itself be a Spark job. */
  def schemaGroups(spark: SparkSession, paths: Seq[String],
                   tolerant: Boolean = false,
                   backoffMs: Long = 1000L): Seq[(Schema, Seq[String])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val grouped = scala.collection.mutable.LinkedHashMap.empty[Long, (Schema, scala.collection.mutable.ArrayBuffer[String])]
    paths.foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      val schema =
        if (!tolerant) Some(writerSchema(() => fs.open(hp)))
        else
          try Some(faultTolerant(backoffMs = backoffMs)(_ => writerSchema(() => fs.open(hp))))
          catch {
            case _: java.io.FileNotFoundException => None // raced deletion: skip
            case e: Exception if isCorruption(e) => quarantine(fs, hp); None
            case _: Exception =>
              // ambiguous failure (header decode errors wrap transient IO
              // and real corruption alike): arbitrate on COMPLETE bytes —
              // fetch length-verified (retried), then re-derive the header
              // purely. Any failure on complete bytes is deterministic
              // corruption (invalid structure OR an unparseable
              // header/schema) and quarantines; a fetch that cannot
              // complete re-raises so the pass fails loudly instead of
              // silently dropping a healthy file.
              arbitrateHeader(fs, hp, backoffMs)
          }
      schema.foreach { s =>
        val fp = AvroSchemas.fingerprint(s)
        grouped.getOrElseUpdate(fp, (s, scala.collection.mutable.ArrayBuffer.empty))._2 += p
      }
    }
    grouped.values.map { case (s, ps) => (s, ps.toSeq) }.toSeq
  }

  /** Header arbitration on complete bytes (see [[schemaGroups]]): returns
    * the parsed writer schema when the earlier failure was transient after
    * all, None after quarantining a deterministically corrupt file, None
    * without quarantine for a file that vanished (raced deletion).
    * Transient fetch failures that exhaust their retries PROPAGATE. */
  private def arbitrateHeader(fs: org.apache.hadoop.fs.FileSystem,
      hp: org.apache.hadoop.fs.Path, backoffMs: Long): Option[Schema] =
    try {
      val bytes = faultTolerant(backoffMs = backoffMs)(_ => readFullyVerified(fs, hp))
      val parsed =
        if (!validateContainer(() => new java.io.ByteArrayInputStream(bytes), bytes.length))
          None
        else
          try Some(writerSchema(() => new java.io.ByteArrayInputStream(bytes)))
          catch { case scala.util.control.NonFatal(_) => None }
      if (parsed.isEmpty) quarantine(fs, hp)
      parsed
    } catch { case _: java.io.FileNotFoundException => None }

  /** Read a set of same-schema container files into a DataFrame with
    * `_file` and `_row_index` metadata columns prepended: one
    * [[AvroTable]] scan, one task per file.
    *
    * `tolerant` turns on the reference's storage fault tolerance
    * (S3SourceStorage.kt:110-136 + FileCache.kt:172-201): each file is
    * read all-or-nothing with bounded retries; a file that fails the
    * byte-level container validation (truncated container, bad block) is
    * quarantined as `.corrupted` and contributes NO rows — so its offset
    * range stays out of the committed state and a repaired re-upload
    * reprocesses cleanly — while transient storage errors that exhaust
    * their retries fail the task instead (quarantining a healthy file
    * would silently lose it). All-or-nothing
    * requires buffering one file per task, safe here because sink files
    * are bounded by the upstream flush policy; the non-tolerant path
    * streams. */
  def read(spark: SparkSession, paths: Seq[String], avroSchema: Schema,
           tolerant: Boolean = false, backoffMs: Long = 1000L): DataFrame =
    read(spark, avroSchema, paths.map(AvroFilePartition(_, None)), AvroReading(tolerant, backoffMs, None))

  /** Per-file constants a restructure scan appends to every row of a
    * file, as `_partition`, `_start_offset` and `_mtime` (epoch millis,
    * emitted as a timestamp): the task that owns the file emits them, so
    * no join attaches them. */
  private[graft] final case class FileConstants(partition: Int, startOffset: Long, mtimeMs: Long)

  /** The columns of a scan: `_file`, `_row_index`, the payload, then,
    * when its files carry [[FileConstants]], `_partition _start_offset
    * _mtime` (`_mtime` nullable as the `java.sql.Timestamp` it stands
    * for). */
  private[graft] def scanSchema(payload: StructType, constants: Boolean): StructType =
    StructType(
      StructField("_file", StringType, nullable = false) +:
        StructField("_row_index", LongType, nullable = false) +:
        (payload.fields.toSeq ++ (if (!constants) Nil else Seq(
          StructField("_partition", IntegerType, nullable = false),
          StructField("_start_offset", LongType, nullable = false),
          StructField("_mtime", TimestampType, nullable = true)))))

  /** [[read]] of planned files: each reports `(path, rows emitted)` into
    * `reading.rowsEmitted` once it is read to the end (see
    * [[AvroPartitionReader]]), and when they carry constants every row also
    * carries its file's. Rows carry `_row_index`
    * 0..n-1, so a reported n is exactly the rows the file contributed to
    * the job that read it. Building the frame starts no Spark job. */
  private[graft] def read(spark: SparkSession, avroSchema: Schema,
      files: Seq[AvroFilePartition], reading: AvroReading): DataFrame = {
    val payload = AvroSchemas.toSparkType(avroSchema).asInstanceOf[StructType]
    val table = new AvroTable(scanSchema(payload, files.exists(_.constants.isDefined)), () => files, reading)
    GraftBridge.ofRows(spark,
      DataSourceV2Relation.create(table, None, None, CaseInsensitiveStringMap.empty()))
  }
}
