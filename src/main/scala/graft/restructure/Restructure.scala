package graft.restructure

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.avro.{AvroFilePartition, AvroReading, AvroSource}
import graft.compression.ZipCodec
import graft.functions.{Strings, Times}
import graft.operators.{Dedup, Flatten, Intervals}
import graft.state.{OffsetRangeSet, TopicPartition}

import org.apache.spark.util.CollectionAccumulator

import java.time.Instant
import scala.jdk.CollectionConverters._

/** Per-topic deduplication settings (reference: config/RestructureConfig.kt:233-265). */
final case class DedupConfig(
    enable: Boolean = false,
    distinctFields: Seq[String] = Seq.empty,
    ignoreFields: Seq[String] = Seq.empty)

/** Engine configuration (the subset of the reference's RestructureConfig
  * that affects dataflow; storage endpoints are Hadoop FS URIs).
  */
final case class RestructureConfig(
    inputDir: String,
    // additional source roots (the reference's paths.inputs is a list);
    // topics are discovered across all roots and a topic's files merge
    extraInputDirs: Seq[String] = Seq.empty,
    outputDir: String,
    stateFile: String,
    format: String = "csv", // csv | json | parquet
    compression: Option[String] = Some("gzip"),
    timeBinFormat: String = Times.DefaultBinFormat,
    excludeTopics: Set[String] = Set.empty,
    maxFilesPerTopic: Option[Int] = None,
    minimumFileAgeMs: Long = 60000L,
    dedup: Map[String, DedupConfig] = Map.empty,
    dedupDefault: DedupConfig = DedupConfig(),
    // when set, concurrent app instances coordinate through per-topic locks
    // and merge-commit the shared state file under a state lock
    // (accounting/RedisRemoteLockManager.kt:18-44 semantics, file-backed)
    lockDir: Option[String] = None,
    // storage fault tolerance (source/S3SourceStorage.kt:110-136,
    // worker/FileCache.kt:172-201): bounded retries on reads; a file that
    // still fails is quarantined as `.corrupted` and its range stays out
    // of the committed state
    faultTolerance: Boolean = true,
    retryBackoffMs: Long = 1000L,
    // A4 — per-phase timers (reference --timer flag,
    // config/CommandLineArgs.kt + Application.kt:185): off by default so
    // timed code pays nothing; when on, run() prints the sorted report the
    // reference emits from its shutdown hook
    enableTimers: Boolean = false,
    // determine a file's final offset from storage metadata instead of its
    // filename (source/S3SourceStorage.kt:40-59 reads the "endOffset" object
    // tag, AzureSourceStorage.kt:27-46 the blob metadata). Hadoop's FS API
    // has no tag surface, so the carrier is a `<file>.meta` properties
    // sidecar — the shape tag-less stores expose cheaply; filename parse
    // stays the fallback.
    endOffsetFromMetadata: Boolean = false,
    // cap records per output file within each (project, user, bin) dir:
    // at production volumes a hot bin otherwise becomes one giant
    // csv.gz/json.gz that downstream consumers cannot split (gzip is not
    // splittable) — the writer rolls to part-...-c001 etc. at the cap.
    // None = Spark's session default (spark.sql.files.maxRecordsPerFile,
    // 0 = unlimited).
    maxRecordsPerFile: Option[Long] = None)

/** One source file of one topic: a contiguous offset range of a
  * topic-partition, metadata parsed from the filename
  * (reference: source/SourceStorage.kt:18-22). */
final case class TopicFile(
    topic: String,
    path: String,
    partition: Int,
    startOffset: Long,
    endOffset: Option[Long],
    lastModified: Long,
    length: Long)

object TopicFile {

  /** Every sink file under `dir` (recursively), metadata parsed from its
    * name (F6): the one listing of batch planning and the stream. An
    * absent dir lists nothing. */
  def list(fs: FileSystem, dir: Path, topic: String): Seq[TopicFile] = {
    if (!fs.exists(dir)) return Seq.empty
    val re = Strings.FilenameRegex.r
    val out = scala.collection.mutable.ArrayBuffer.empty[TopicFile]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val s: FileStatus = it.next()
      if (s.isFile) re.findFirstMatchIn(s.getPath.getName).foreach { m =>
        out += TopicFile(
          topic = topic,
          path = s.getPath.toString,
          partition = m.group(2).toInt,
          startOffset = m.group(3).toLong,
          endOffset = Option(m.group(4)).map(_.toLong),
          lastModified = s.getModificationTime,
          length = s.getLen)
      }
    }
    out.toSeq
  }
}

/** One writer-schema group of a topic batch as [[Restructure.run]] reads
  * it: the derived frame, the planned files it reads, and the
  * `(path, rows emitted)` its Avro scan reports (see
  * [[graft.avro.AvroSource.read]]), from which [[Restructure.ledger]]
  * builds the batch's offset ranges. */
private[graft] final case class TopicBatch(
    topic: String,
    df: DataFrame,
    files: Seq[TopicFile],
    rowsRead: CollectionAccumulator[(String, Long)])

/** The restructure job: incremental Avro -> partitioned flat CSV/JSON with
  * offset-range accounting (SURVEY §3.1 end to end, re-expressed
  * Spark-first).
  *
  * Scale design: listing, pruning, and offset accounting are driver-side
  * (state is O(gaps), file lists are O(files) metadata only); every
  * per-record step — decode, derive, flatten, dedup, write — is a narrow or
  * single-shuffle Spark stage over file-granular tasks. Nothing per-record
  * ever lands on the driver.
  */
final class Restructure(spark: SparkSession, config: RestructureConfig) {

  /** W3 crash-window test seam (CrashRecoverySpec): invoked once per topic
    * batch AFTER its output write succeeded and its ledger was built, and
    * BEFORE its state commit — the write-then-commit ordering makes a crash
    * here the design's worst case: part files are on disk with no ledger
    * entry, so the rerun must reprocess the batch and the read-time dedup
    * (J4, [[readOutput]]) must absorb the re-emitted rows. Production never
    * sets it; the default is a no-op and costs one megamorphic call per
    * topic batch (driver-side, off the data path). */
  private[graft] var beforeCommit: String => Unit = _ => ()

  private def inputRoots: Seq[Path] =
    (config.inputDir +: config.extraInputDirs).map(new Path(_))

  private def fsOf(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------------ planning

  /** S1 — topic discovery: a directory containing `*.avro` files two levels
    * down is a topic root (`<topic>/partition=<p>/<file>.avro`);
    * `+tmp` dirs skipped; exclude filter applied (P4). Topics found in ANY
    * configured input root count once. */
  def listTopics(): Seq[String] =
    inputRoots.flatMap { root =>
      val rfs = fsOf(root)
      if (!rfs.exists(root)) Seq.empty[String]
      else rfs.listStatus(root).toSeq
        .filter(s => s.isDirectory && !s.getPath.getName.contains("+tmp"))
        .map(_.getPath.getName)
    }.distinct.filterNot(config.excludeTopics).sorted

  /** S2 — file listing for one topic with filename metadata (F6), merged
    * across all input roots. */
  def listFiles(topic: String): Seq[TopicFile] =
    inputRoots.flatMap { root =>
      val dir = new Path(root, topic)
      val rfs = fsOf(dir)
      TopicFile.list(rfs, dir, topic).map(f =>
        metadataEndOffset(rfs, new Path(f.path)).fold(f)(e => f.copy(endOffset = Some(e))))
    }

  /** endOffset from storage metadata (see RestructureConfig
    * .endOffsetFromMetadata): one extra metadata read per file, so it only
    * runs when enabled. A malformed sidecar is ignored — the filename
    * fallback keeps the pass alive. */
  private def metadataEndOffset(fs: org.apache.hadoop.fs.FileSystem, path: Path): Option[Long] = {
    if (!config.endOffsetFromMetadata) return None
    val sidecar = path.suffix(".meta")
    try {
      if (!fs.exists(sidecar)) None
      else {
        val in = fs.open(sidecar)
        try {
          val p = new java.util.Properties()
          p.load(in)
          Option(p.getProperty("endOffset")).flatMap(_.trim.toLongOption)
        } finally in.close()
      }
      // NonFatal, not just IOException: Properties.load throws
      // IllegalArgumentException on a malformed \uXXXX escape, and the
      // documented contract is that a broken sidecar falls back to the
      // filename, never kills the pass
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** P5/P6/P8/O1 — prune the file list against age, zero length, and the
    * processed-offset state; apply the per-pass limit. */
  def plan(topic: String, state: OffsetRangeSet, now: Long = System.currentTimeMillis): Seq[TopicFile] = {
    val pruned = listFiles(topic)
      .filter(_.length > 0)
      .filter(_.lastModified <= now - config.minimumFileAgeMs)
      .filterNot { f =>
        // files without an end offset in the filename check [start, start]:
        // if the file was fully processed its whole range (start..lastRecord)
        // is in state, so containment of the start is sufficient; the mtime
        // check still forces reprocessing of rewritten files (W5)
        state.contains(
          TopicPartition(f.topic, f.partition),
          f.startOffset, f.endOffset.getOrElse(f.startOffset),
          Instant.ofEpochMilli(f.lastModified))
      }
      .sortBy(f => (f.partition, f.startOffset))
    config.maxFilesPerTopic.fold(pruned)(pruned.take)
  }

  // ------------------------------------------------------------ dataflow

  /** Read one topic's planned files (grouped by writer schema — the
    * plan-time analog of the reference's schema-drift attempt suffix) and
    * derive the standard columns:
    * `_topic _partition _offset _mtime _project _user _source _time _bin`.
    */
  def readTopic(topic: String, files: Seq[TopicFile]): Seq[DataFrame] =
    readBatches(topic, files).map(_.df)

  /** [[readTopic]] with each group's planned files and the row counts its
    * scan reports — what [[run]] builds the offset ledger from. */
  private[graft] def readBatches(topic: String, files: Seq[TopicFile]): Seq[TopicBatch] = {
    val byPath = files.map(f => f.path -> f).toMap
    AvroSource.schemaGroups(spark, files.map(_.path),
      tolerant = config.faultTolerance, backoffMs = config.retryBackoffMs).map { case (schema, paths) =>
      val group = paths.map(byPath)
      val rowsRead = spark.sparkContext.collectionAccumulator[(String, Long)]
      // each file's task emits `_partition _start_offset _mtime` itself
      val df = AvroSource.read(spark, schema, group.map(AvroFilePartition(_)),
        AvroReading(config.faultTolerance, config.retryBackoffMs, Some(rowsRead)))
      TopicBatch(topic, derive(topic, df), group, rowsRead)
    }
  }

  /** The derived columns of a topic's Avro scan, batch or stream (the scan
    * emits each file's `_partition _start_offset _mtime`): `_topic`,
    * `_offset` = `_start_offset + _row_index` (it replaces
    * `_start_offset`), then `_project _user _source _time _bin` from the
    * record's key and event time. */
  private[graft] def derive(topic: String, df: DataFrame): DataFrame =
    df.withColumn("_topic", lit(topic))
      .withColumn("_offset", col("_start_offset") + col("_row_index"))
      .withColumn("_project", sanitized(df, "key.projectId", "unknown-project"))
      .withColumn("_user", sanitized(df, "key.userId", "unknown-user"))
      .withColumn("_source", sanitized(df, "key.sourceId", "unknown-source"))
      .withColumn("_time", Times.eventTime(df))
      .withColumn("_bin", Times.timeBin(col("_time"), config.timeBinFormat))
      .drop("_start_offset")

  private def sanitized(df: DataFrame, path: String, default: String): Column = {
    val exists = {
      val parts = path.split("\\.")
      df.schema.fields.find(_.name == parts(0)).map(_.dataType) match {
        case Some(s: StructType) => s.fields.exists(_.name == parts(1))
        case _                   => false
      }
    }
    if (exists) Strings.sanitizeId(col(path), default) else lit(default)
  }

  /** P7 — drop records whose offset is already covered by state (file
    * partially processed in a crashed run). Broadcast predicate, no join. */
  def filterSeen(df: DataFrame, state: OffsetRangeSet): DataFrame =
    if (state.isEmpty) df
    else Intervals.unseenByState(
      spark, df, state, "_topic", "_partition", "_offset", Some("_mtime"))

  /** D1/D3 — per-topic keep-last dedup, scoped per output file as the
    * reference scopes it: the reference dedups the lines of one
    * `project/user/topic/hour` file when that file closes
    * (format/CsvAvroConverterFactory.kt:22-56, worker/FileCache.kt:132-150),
    * so the key is `(_project, _user, _bin)` followed by the configured
    * fields. Two records of different users or hours never collapse.
    *
    * Field names are the flat header names: `value.time` is that leaf.
    * `distinctFields` are the fields; otherwise the fields are every
    * payload column minus `ignoreFields`, as [[Dedup.keysIgnoring]]
    * resolves them (a struct an ignored name points inside is replaced
    * by its leaves). Per key the last record by `(_offset, _partition)`
    * survives.
    *
    * The JSON format dedups whole lines instead (D2,
    * format/RecordConverterFactory.kt:62-84): the fields are every payload
    * column and `distinctFields`/`ignoreFields` do not apply. Rows equal
    * in every field write identical lines, so keeping the last is keeping
    * the first.
    *
    * The frame is partitioned by output file ([[byOutputFile]]) before
    * [[Dedup.keepLast]], so that one exchange serves both the dedup and
    * [[write]]. Each write task sorts its rows once, by the key then
    * newest first, and keeps the first row of each key in one pass over
    * the sorted rows ([[graft.catalyst.KeepFirst]]); that sort, led by
    * `(_project, _user, _bin)`, is also the order the writer needs. */
  def dedup(topic: String, df: DataFrame): DataFrame = {
    val cfg = config.dedup.getOrElse(topic, config.dedupDefault)
    if (!cfg.enable) return df
    // keep-last needs a TOTAL order unique per record: _offset alone is
    // only unique within a Kafka partition, so equal-key records at the
    // same offset of different partitions would tie and the surviving
    // row would be partitioning-dependent. (_offset, _partition) is
    // globally unique, so ordering by the struct picks the same winner
    // deterministically.
    val ordered = byOutputFile(df).withColumn("__ord", struct(col("_offset"), col("_partition")))
    val fields =
      if (config.format == "json") Dedup.keysIgnoring(ordered, metaCols, "__ord")
      else if (cfg.distinctFields.nonEmpty) cfg.distinctFields
      else Dedup.keysIgnoring(ordered, cfg.ignoreFields ++ metaCols, "__ord")
    Dedup.keepLast(ordered, outputFileCols ++ fields, "__ord").drop("__ord")
  }

  /** The columns naming a row's output file, `project/user/topic/hour`. */
  private val outputFileCols = Seq("_project", "_user", "_bin")

  /** The one partitioning decision of a batch: every row of one output
    * file in one task. [[dedup]] and [[write]] both apply it; when the
    * dedup already did, Spark drops the write's repartition as redundant,
    * so a batch shuffles once. A constant column (a key schema without
    * `projectId` makes `_project` a literal) is left out of the hash: the
    * optimizer folds it into a literal there, and a hash on a literal
    * satisfies neither the dedup nor the write.
    *
    * The partition count is explicit, the session's
    * `spark.sql.shuffle.partitions` (one per core, [[graft.Sessions.planConf]]):
    * AQE coalesces a repartition by columns alone to its 1 MB minimum
    * partition size, so a batch of a few MB would write on fewer tasks than
    * cores; a repartition by number it leaves as it is. Both applications
    * carry the same count, so the second is still redundant. */
  private def byOutputFile(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val constant = plan.flatMap(_.expressions).collect {
      case a: Alias if a.child.foldable => a.exprId
    }.toSet
    val hashed = outputFileCols.filterNot(c => plan.output.exists(a => a.name == c && constant(a.exprId)))
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, hashed.map(col): _*)
  }

  private val metaCols = Seq(
    "_file", "_row_index", "_topic", "_partition", "_offset", "_mtime",
    "_project", "_user", "_source", "_time", "_bin")

  /** S7/S9 — write one topic batch: flatten the payload, partition by
    * (project, user, bin), CSV-with-header or JSON lines, optional gzip.
    * CSV goes through [[CsvPartFormat]], Spark's CSV writer over a stream
    * it opens itself: a gzip or zip CSV part checks its own content and
    * gets no `.crc` sidecar. JSON and parquet stay on Spark's writers.
    * `compression: zip` is [[graft.compression.ZipCodec]].
    *
    * The rows are first partitioned by output file ([[byOutputFile]]), so
    * each `(project, user, bin)` dir is written by one task holding one
    * open writer; without it every task holds a writer (and a gzip
    * stream) for every dir it meets, tasks x dirs tiny files (measured
    * 8x slower at 200k records / 1440 bins). A bin is never split across
    * tasks: the per-file [[dedup]] needs all of a file's rows in one
    * place, and the reference too writes each file from one writer.
    * `maxRecordsPerFile` still caps the size of each part file. After a
    * dedup the rows already arrive partitioned and sorted this way, and the
    * write adds no exchange and no sort of its own: one open file per bin.
    */
  def write(topic: String, df: DataFrame): Unit = write(topic, df, () => ())

  /** [[write]] that calls `beforeJob` after the CSV header pre-pass and
    * immediately before the write job itself. */
  private def write(topic: String, df: DataFrame, beforeJob: () => Unit): Unit = {
    val payload = df.schema.fields.map(_.name).filterNot(metaCols.contains)
    val payloadStruct = StructType(df.schema.fields.filter(f => payload.contains(f.name)))
    val flatCols =
      if (config.format == "csv" && Flatten.needsCsvLayout(payloadStruct)) {
        // two-pass data-dependent header: measure map keys (first-seen by
        // offset) and array lengths over the batch, then expand in place —
        // every bin file of the topic gets the same header (per-topic
        // schema union of the reference's per-file first-record header,
        // format/RecordConverterFactory.kt:115-127)
        val layout = Flatten.csvLayout(
          df.select((payload.map(n => col(s"`$n`")) :+ col("_offset")).toSeq: _*),
          Some("_offset"))
        val expanded = Flatten.csvColumns(payloadStruct, layout)
        // degenerate batch (every payload leaf inside maps/arrays that are
        // all empty): zero expansion columns would leave the writer with
        // only partition columns, which Spark rejects — fall back to the
        // JSON-encoded container columns for this batch
        if (expanded.nonEmpty) expanded else Flatten.flattenColumns(payloadStruct)
      } else Flatten.flattenColumns(payloadStruct)
    val out = df.select(outputFileCols.map(col) ++ flatCols: _*)
    val dir = s"${config.outputDir}/$topic"
    val writer0 = byOutputFile(out)
      .write
      .partitionBy(outputFileCols: _*)
      .mode(SaveMode.Append)
    val writer = config.maxRecordsPerFile
      .fold(writer0)(n => writer0.option("maxRecordsPerFile", n))
    val withCompression = config.compression match {
      case Some("zip") => writer.option("compression", classOf[ZipCodec].getName)
      case Some(c) => writer.option("compression", c)
      case None    => writer
    }
    beforeJob()
    config.format match {
      case "csv"  => withCompression.format(classOf[CsvPartFormat].getName).option("header", "true").save(dir)
      case "json" => withCompression.json(dir)
      // Beyond the reference's csv/json (format/FormatFactory.kt): a
      // columnar sink for lakehouse consumers, with the same flattened
      // record shape and (project, user, bin) layout. `compression: none`
      // maps to parquet's snappy default (parquet pages are the unit of
      // IO; an uncompressed page just wastes the scan), any other codec
      // name passes through (gzip, zstd).
      case "parquet" => withCompression.parquet(dir)
      case other  => throw new IllegalArgumentException(s"unknown format: $other")
    }
  }

  /** A2 — the offset ledger of one batch, built on the driver from the row
    * counts its write job's own scan reported: the reference ledgers every
    * record as it reads it, including ones the dedup pass later drops
    * (worker/RestructureWorker.kt:116,127-135). A file that emitted n rows
    * holds offsets `[start, start+n-1]` (`_offset = start + _row_index`);
    * the ledger is those ranges at the file's mtime, minus what `seen` —
    * the state [[filterSeen]] dropped rows by — covers, coalesced as
    * [[graft.operators.Intervals.collectRanges]] does. O(files) arithmetic,
    * no Spark job. A file reported with two different counts changed
    * under the job and stays out: the next pass re-plans it and read-time
    * dedup absorbs the repeated rows (W3). */
  private[graft] def ledger(batch: TopicBatch, seen: OffsetRangeSet): OffsetRangeSet = {
    val counts = batch.rowsRead.value.asScala
      .groupMapReduce(_._1)(c => Option(c._2))((a, b) => a.filter(b.contains))
    val out = new OffsetRangeSet
    for (f <- batch.files; n <- counts.get(f.path).flatten if n > 0)
      out.addUnseen(TopicPartition(batch.topic, f.partition),
        f.startOffset, f.startOffset + n - 1, Instant.ofEpochMilli(f.lastModified), seen)
    out
  }

  /** A2 — offset ranges of a processed batch as a distributed job over its
    * records (computed over the PRE-dedup records). The reference form of
    * [[ledger]], which [[run]] uses instead: this re-reads the source. */
  def processedRanges(df: DataFrame): DataFrame =
    Intervals.toRanges(
      df.select(col("_topic").as("topic"), col("_partition").as("partition"),
        col("_offset").as("offset"), col("_mtime").as("mtime")),
      Seq("topic", "partition"), "offset", Some("mtime"))

  /** Read a topic's output back (all bins, all part files), optionally
    * deduplicating whole rows across parts (J4: duplicates can only exist
    * after state loss forces reprocessing — the reference removes them at
    * append time by re-running dedup over the merged file; the read-time
    * equivalent is a whole-row distinct). CSV parts are read by their own
    * headers ([[readCsv]]); JSON and parquet resolve columns by name. */
  def readOutput(topic: String, dedup: Boolean = true): DataFrame = {
    val dir = s"${config.outputDir}/$topic"
    // pathGlobFilter: skip the schema sidecar; partition dirs still resolve
    val reader = spark.read
      .option("header", "true")
      .option("pathGlobFilter", "part-*")
    val df = config.format match {
      case "csv"     => readCsv(reader, topic)
      case "json"    => reader.json(dir)
      case "parquet" => reader.parquet(dir)
      case other  => throw new IllegalArgumentException(s"unknown format: $other")
    }
    if (dedup) df.distinct() else df
  }

  /** A topic's CSV parts, each read through its own header: after a schema
    * change the parts carry different headers, and Spark's CSV reader maps
    * every file onto one header by position. One header reads the dir with
    * it as a given all-string schema (no header-inference job); several
    * read each header's files (with `basePath`, so `_project _user _bin`
    * survive) and union them by name. The reference too checks each output
    * file against its own header (cleaner/TimestampExtractionCheck.kt:22-78). */
  private def readCsv(reader: DataFrameReader, topic: String): DataFrame = {
    val dir = s"${config.outputDir}/$topic"
    val codecs = new CompressionCodecFactory(spark.sparkContext.hadoopConfiguration)
    val headed = partFiles(topic).flatMap(p => firstLine(p, codecs).map(_ -> p.toString))
    val csv = new CSVOptions(CaseInsensitiveMap(Map("header" -> "true")), false,
      spark.sessionState.conf.sessionLocalTimeZone)
    def schema(header: String) =
      StructType(new CsvParser(csv.asParserSettings).parseLine(header).map(StructField(_, StringType)))
    headed.map(_._1).distinct match {
      case Seq()       => reader.csv(dir)
      case Seq(header) => reader.schema(schema(header)).csv(dir)
      case headers =>
        headers.map { h =>
          reader.schema(schema(h)).option("basePath", dir).csv(headed.collect { case (`h`, p) => p }: _*)
        }.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** The first line of a (possibly compressed) part file, if it has one. */
  private def firstLine(p: Path, codecs: CompressionCodecFactory): Option[String] = {
    val raw = fsOf(p).open(p)
    val in = Option(codecs.getCodec(p)).fold[java.io.InputStream](raw)(_.createInputStream(raw))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().nextOption() finally in.close()
  }

  /** The topic's part files in the `(_project, _user, _bin)` layout, by
    * path, found with one glob. */
  private[restructure] def partFiles(topic: String): Seq[Path] = {
    val glob = new Path((Seq(s"${config.outputDir}/$topic") ++
      outputFileCols.map(c => s"$c=*") :+ "part-*").mkString("/"))
    Option(fsOf(glob).globStatus(glob)).toSeq.flatten.map(_.getPath).sortBy(_.toString)
  }

  /** Whether the topic's output holds a part file: [[readOutput]] on a
    * topic without one fails analysis (no schema to infer). */
  private[restructure] def hasOutput(topic: String): Boolean = partFiles(topic).nonEmpty

  /** Schema sidecar (S9): Spark schema JSON written once per topic dir. */
  def writeSidecar(topic: String, df: DataFrame): Unit = {
    val p = new Path(s"${config.outputDir}/$topic", s"schema-$topic.json")
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!out.exists(p)) {
      val os = out.create(p, true)
      try os.write(df.schema.prettyJson.getBytes("UTF-8")) finally os.close()
    }
  }

  // ------------------------------------------------------------ lifecycle

  /** Full incremental pass: plan, read, filter, dedup, write, commit —
    * write-then-commit ordering per topic (W3: a crash before the state
    * write reprocesses the batch; dedup keeps the output idempotent). */
  def run(): RestructureResult = {
    if (config.enableTimers) {
      Timers.enabled = true
      Timers.attach(spark)
    }
    var state = loadState()
    val lockMgr = config.lockDir.map(d =>
      new FileRemoteLockManager(spark.sparkContext.hadoopConfiguration, new Path(d)))
    var filesProcessed = 0L
    var recordsWritten = 0L
    val topics = listTopics()
    topics.foreach { topic =>
      def process(): Unit = {
        // with concurrent instances, re-check the plan against the LATEST
        // committed state once the topic lock is held — another instance
        // may have finished this topic between our load and our lock. A
        // fresh reload, not an additive merge: merging would resurrect
        // ranges a concurrent cleaner REMOVED (readmission) in that
        // window, hiding the readmitted file from this pass's plan.
        // Nothing in-memory is lost — earlier topics' ranges were
        // committed to disk by commitState before this topic runs.
        if (lockMgr.isDefined) state = loadState()
        val files = Timers.time(spark, "restructure.plan")(plan(topic, state))
        if (files.nonEmpty) {
          filesProcessed += files.size
          // DataFrames are lazy: "read" times the driver-side work only
          // (header scans, schema grouping); the one distributed
          // scan/decode executes inside the write job, so its task time
          // lands under "restructure.write" — the phase that RUNS the plan
          // — and the same scan reports the row counts the ledger is
          // built from
          Timers.time(spark, "restructure.read")(readBatches(topic, files)).foreach { batch =>
            // `state` is not touched between here and the ledger: the
            // ledger subtracts exactly the state filterSeen broadcasts
            // (batch 2 of a two-schema topic sees batch 1's commit in both)
            val unseen = filterSeen(batch.df, state)
            // A3 counters ride the write job itself — no extra pass. The
            // listener-based Observation is required here: DataFrameWriter
            // plans its own QueryExecution over the logical plan, so reading
            // observedMetrics off this DataFrame's QueryExecution would
            // consult a never-executed plan (always 0).
            val obs = org.apache.spark.sql.Observation()
            val observed = dedup(topic, unseen)
              .observe(obs, count(lit(1)).as("records"))
            Timers.time(spark, "restructure.write") {
              writeSidecar(topic, batch.df)
              // reset after the CSV header pre-pass, which reads the source
              // too: the ledger counts the write job's read alone
              write(topic, observed, () => batch.rowsRead.reset())
            }
            recordsWritten += obs.get.get("records").map(_.asInstanceOf[Long]).getOrElse(0L)
            val added = ledger(batch, state)
            beforeCommit(topic) // W3 crash-window seam — no-op in production
            Timers.time(spark, "restructure.commit") {
              commitState(state, added, lockMgr) // S10 — commit after write
            }
          }
        }
      }
      lockMgr match {
        case Some(m) => m.withLock(topic)(process()) // None -> another instance owns it
        case None    => process()
      }
    }
    if (config.enableTimers) {
      // the bus is asynchronous: the last write's task events may still be queued
      Timers.settle()
      println(Timers.report)
    }
    RestructureResult(topics.size, filesProcessed, recordsWritten)
  }

  /** Merge `added` into the in-memory state and commit. With a lock manager
    * the commit is read-merge-write under a dedicated state lock — two
    * instances that processed DIFFERENT topics both land their ranges in
    * the shared file with neither update lost (the reference gets this from
    * Redis's single-writer semantics,
    * accounting/OffsetRedisPersistence.kt:38-82). */
  private def commitState(
      state: OffsetRangeSet,
      added: OffsetRangeSet,
      lockMgr: Option[RemoteLockManager]): Unit = {
    state.addAll(added)
    lockMgr match {
      case Some(m) =>
        m.withLockRetrying("__state") {
          val disk = loadState()
          disk.addAll(added)
          saveState(disk)
          state.addAll(disk) // see other instances' progress for later plans
        }
      case None => saveState(state)
    }
  }

  /** The state file on a LOCAL filesystem must bypass Hadoop's
    * ChecksumFileSystem: its rename moves the data file and the `.crc`
    * sidecar as TWO renames, so a concurrent reader between them fails
    * with ChecksumException — exactly the atomic-visibility contract the
    * multi-instance deployment relies on (a peer's plan re-check and the
    * soak's progress polls read while another instance commits;
    * TwoInstanceSoak caught this live). java.nio's single rename(2) IS
    * atomic; non-local stores keep the FileContext path (HDFS rename is
    * atomic server-side and carries no client sidecar). Returns the raw
    * local path when the resolved filesystem is local. */
  private def localStatePath(p: Path,
      fs: org.apache.hadoop.fs.FileSystem): Option[java.nio.file.Path] =
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        Some(java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath))
      case _ => None
    }

  /** Load state; a legacy reference deployment's CSV offsets file
    * (`offsetFrom,offsetTo,partition,topic[,lastModified]` header,
    * accounting/OffsetFilePersistence.kt:95-121) is detected by its header
    * and imported transparently — the next save rewrites it as JSON. */
  def loadState(): OffsetRangeSet = {
    val p = new Path(config.stateFile)
    val sfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val text = localStatePath(p, sfs) match {
      case Some(lp) =>
        if (!java.nio.file.Files.exists(lp)) return new OffsetRangeSet
        new String(java.nio.file.Files.readAllBytes(lp), "UTF-8")
      case None =>
        if (!sfs.exists(p)) return new OffsetRangeSet
        val in = sfs.open(p)
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        finally in.close()
    }
    if (text.startsWith("offsetFrom,")) OffsetRangeSet.fromCsv(text)
    else OffsetRangeSet.fromJson(text)
  }

  /** Atomic state write: temp file in the same directory, then ONE
    * rename — atomic on local (rename(2), see [[localStatePath]]) and
    * HDFS filesystems, so a concurrent reader sees either the old or the
    * new state, never a truncated file and never a torn data/checksum
    * pair. */
  def saveState(state: OffsetRangeSet): Unit = {
    val p = new Path(config.stateFile)
    val sfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = state.toJson.getBytes("UTF-8")
    localStatePath(p, sfs) match {
      case Some(lp) =>
        if (lp.getParent != null) java.nio.file.Files.createDirectories(lp.getParent)
        val tmp = lp.resolveSibling(
          s".${lp.getFileName}.tmp-${java.util.UUID.randomUUID()}")
        java.nio.file.Files.write(tmp, bytes)
        java.nio.file.Files.move(tmp, lp,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // a .crc left by a pre-fix Hadoop save would desync from raw
        // writes; readers above bypass verification, but keep the dir
        // clean so no other tool trips over it
        java.nio.file.Files.deleteIfExists(
          lp.resolveSibling(s".${lp.getFileName}.crc"))
      case None =>
        if (p.getParent != null) sfs.mkdirs(p.getParent)
        val tmp = new Path(p.getParent, s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
        val os = sfs.create(tmp, true)
        try os.write(bytes) finally os.close()
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri,
          spark.sparkContext.hadoopConfiguration)
        fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }
}

final case class RestructureResult(topics: Int, files: Long, records: Long = 0L)
