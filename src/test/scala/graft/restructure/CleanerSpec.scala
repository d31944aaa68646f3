package graft.restructure

import graft.SparkSpec
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

import java.io.File
import java.nio.file.Files

/** Cleaner semantics: extracted files are deleted, tampered output forces
  * reprocessing via state removal (SURVEY §3.2 / reference
  * cleaner/SourceDataCleaner.kt).
  */
class CleanerSpec extends SparkSpec {

  private val schemaJson =
    """{"type":"record","name":"Envelope","fields":[
      | {"name":"key","type":{"type":"record","name":"ObservationKey","fields":[
      |   {"name":"projectId","type":["null","string"],"default":null},
      |   {"name":"userId","type":"string"},
      |   {"name":"sourceId","type":"string"}]}},
      | {"name":"value","type":{"type":"record","name":"Light","fields":[
      |   {"name":"time","type":"double"},
      |   {"name":"light","type":"float"}]}}
      |]}""".stripMargin

  private val schema = new Schema.Parser().parse(schemaJson)

  private def record(time: Double, light: Float): GenericRecord = {
    val key = new GenericData.Record(schema.getField("key").schema())
    key.put("projectId", "p"); key.put("userId", "u"); key.put("sourceId", "s")
    val value = new GenericData.Record(schema.getField("value").schema())
    value.put("time", time); value.put("light", light)
    val rec = new GenericData.Record(schema)
    rec.put("key", key); rec.put("value", value)
    rec
  }

  private def writeAvro(file: File, records: Seq[GenericRecord]): Unit = {
    file.getParentFile.mkdirs()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, file)
    records.foreach(w.append)
    w.close()
  }

  test("cleaner deletes extracted files, keeps the newest offset, reprocesses tampered output") {
    val dir = Files.createTempDirectory("graft-cleaner").toFile
    val topicDir = new File(dir, "in/phone_light/partition=0")
    val f1 = new File(topicDir, "phone_light+0+0000000000+0000000001.avro")
    val f2 = new File(topicDir, "phone_light+0+0000000002+0000000003.avro")
    val f3 = new File(topicDir, "phone_light+0+0000000004.avro")
    writeAvro(f1, Seq(record(1580219940.0, 1f), record(1580219941.0, 2f)))
    writeAvro(f2, Seq(record(1580219950.0, 3f), record(1580219951.0, 4f)))
    writeAvro(f3, Seq(record(1580219960.0, 5f)))
    val cfg = RestructureConfig(
      inputDir = new File(dir, "in").toString,
      outputDir = new File(dir, "out").toString,
      stateFile = new File(dir, "state/offsets.json").toString,
      compression = None,
      minimumFileAgeMs = 0L)
    new Restructure(spark, cfg).run()

    // age=0 makes every processed file an age-eligible candidate
    val cleaner = new Cleaner(spark, cfg, ageMs = 0L)
    val future = System.currentTimeMillis + 60000
    val (deleted, reprocess) = cleaner.run(now = future)
    // f1, f2 fully extracted -> deleted; f3 holds the newest offset (range+1
    // not in state) -> never a candidate
    assert(deleted.map(_.stripPrefix("file:")).toSet == Set(f1.toString, f2.toString))
    assert(reprocess.isEmpty)
    assert(!f1.exists() && !f2.exists() && f3.exists())
  }

  test("end-less newest file is never a candidate, even with multiple records") {
    // with no end offset in the name the state check degenerates to
    // [start, start+1], which the processed range covers for a
    // MULTI-record newest file — only the explicit newest-endless
    // exclusion keeps P9 true for this layout (a 1-record newest file,
    // like the case above, is protected by the range check alone)
    val dir = Files.createTempDirectory("graft-cleaner-p9").toFile
    val topicDir = new File(dir, "in/phone_light/partition=0")
    val f1 = new File(topicDir, "phone_light+0+0000000000.avro")
    val f2 = new File(topicDir, "phone_light+0+0000000002.avro")
    writeAvro(f1, Seq(record(1580219940.0, 1f), record(1580219941.0, 2f)))
    writeAvro(f2, Seq(record(1580219950.0, 3f), record(1580219951.0, 4f)))
    val cfg = RestructureConfig(
      inputDir = new File(dir, "in").toString,
      outputDir = new File(dir, "out").toString,
      stateFile = new File(dir, "state/offsets.json").toString,
      compression = None,
      minimumFileAgeMs = 0L)
    new Restructure(spark, cfg).run()
    val (deleted, reprocess) = new Cleaner(spark, cfg, ageMs = 0L)
      .run(now = System.currentTimeMillis + 60000)
    // f1 (fully extracted, not the newest) is deleted; f2 survives as the
    // partition's newest end-less file despite being fully extracted too
    assert(deleted.map(_.stripPrefix("file:")) == Seq(f1.toString))
    assert(reprocess.isEmpty)
    assert(!f1.exists() && f2.exists())
  }

  test("newest-endless guard tracks the newest ELIGIBLE file past a mid-upload head") {
    // the partition's raw-newest file is a ZERO-LENGTH in-flight upload —
    // never a candidate itself (P8), never processed, and no protection
    // for anything else. The guard must fall back to the next-newest
    // end-less file (f2, multi-record, fully extracted), which the
    // degenerate [start, start+1] state check would otherwise admit.
    val dir = Files.createTempDirectory("graft-cleaner-head").toFile
    val topicDir = new File(dir, "in/phone_light/partition=0")
    val f1 = new File(topicDir, "phone_light+0+0000000000.avro")
    val f2 = new File(topicDir, "phone_light+0+0000000002.avro")
    val f3 = new File(topicDir, "phone_light+0+0000000004.avro")
    writeAvro(f1, Seq(record(1580219940.0, 1f), record(1580219941.0, 2f)))
    writeAvro(f2, Seq(record(1580219950.0, 3f), record(1580219951.0, 4f)))
    f3.getParentFile.mkdirs()
    assert(f3.createNewFile()) // 0 bytes: an upload that has not landed yet
    val cfg = RestructureConfig(
      inputDir = new File(dir, "in").toString,
      outputDir = new File(dir, "out").toString,
      stateFile = new File(dir, "state/offsets.json").toString,
      compression = None,
      minimumFileAgeMs = 0L)
    new Restructure(spark, cfg).run()
    val (deleted, reprocess) = new Cleaner(spark, cfg, ageMs = 0L)
      .run(now = System.currentTimeMillis + 60000)
    // f1 deleted; f2 survives as the newest ELIGIBLE end-less file; f3
    // untouched (zero-length)
    assert(deleted.map(_.stripPrefix("file:")) == Seq(f1.toString))
    assert(reprocess.isEmpty)
    assert(!f1.exists() && f2.exists() && f3.exists())
  }

  test("json format: restructure writes JSON lines and cleaner verifies through them") {
    val dir = Files.createTempDirectory("graft-json").toFile
    val topicDir = new File(dir, "in/phone_light/partition=0")
    val f1 = new File(topicDir, "phone_light+0+0000000000+0000000001.avro")
    val f2 = new File(topicDir, "phone_light+0+0000000002.avro")
    writeAvro(f1, Seq(record(1580219940.0, 1f), record(1580219941.0, 2f)))
    writeAvro(f2, Seq(record(1580219950.0, 3f)))
    val cfg = RestructureConfig(
      inputDir = new File(dir, "in").toString,
      outputDir = new File(dir, "out").toString,
      stateFile = new File(dir, "state/offsets.json").toString,
      format = "json",
      compression = None,
      minimumFileAgeMs = 0L)
    new Restructure(spark, cfg).run()
    // flattened dotted JSON fields round-trip
    val out = spark.read.json(
      new File(cfg.outputDir, "phone_light").toString + "/_project=p/_user=u/*/part-*")
    assert(out.columns.contains("value.time"))
    assert(out.count() == 3)
    // cleaner verifies through the JSON output and deletes the covered file
    val (deleted, _) = new Cleaner(spark, cfg, ageMs = 0L)
      .run(now = System.currentTimeMillis + 60000)
    assert(deleted.map(_.stripPrefix("file:")) == Seq(f1.toString))
  }

  test("cleaner verifies topics whose event time is not value.time (cascade parity)") {
    // schema carries timeReceived ONLY: a hardcoded value.time on the
    // output side would crash the pass or loop the file between
    // state-remove and reprocess forever
    val trSchemaJson =
      """{"type":"record","name":"Envelope","fields":[
        | {"name":"key","type":{"type":"record","name":"ObservationKey","fields":[
        |   {"name":"projectId","type":["null","string"],"default":null},
        |   {"name":"userId","type":"string"},
        |   {"name":"sourceId","type":"string"}]}},
        | {"name":"value","type":{"type":"record","name":"Usage","fields":[
        |   {"name":"timeReceived","type":"double"},
        |   {"name":"usage","type":"int"}]}}
        |]}""".stripMargin
    val trSchema = new Schema.Parser().parse(trSchemaJson)
    def trRecord(tr: Double, usage: Int): GenericRecord = {
      val key = new GenericData.Record(trSchema.getField("key").schema())
      key.put("projectId", "p"); key.put("userId", "u"); key.put("sourceId", "s")
      val value = new GenericData.Record(trSchema.getField("value").schema())
      value.put("timeReceived", tr); value.put("usage", usage)
      val rec = new GenericData.Record(trSchema)
      rec.put("key", key); rec.put("value", value)
      rec
    }
    val dir = Files.createTempDirectory("graft-cleaner-tr").toFile
    val topicDir = new File(dir, "in/app_usage/partition=0")
    val f1 = new File(topicDir, "app_usage+0+0000000000+0000000001.avro")
    val f2 = new File(topicDir, "app_usage+0+0000000002.avro")
    def writeTr(file: File, records: Seq[GenericRecord]): Unit = {
      file.getParentFile.mkdirs()
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](trSchema))
      w.create(trSchema, file)
      records.foreach(w.append)
      w.close()
    }
    writeTr(f1, Seq(trRecord(1580219940.0, 1), trRecord(1580219941.0, 2)))
    writeTr(f2, Seq(trRecord(1580219950.0, 3)))
    val cfg = RestructureConfig(
      inputDir = new File(dir, "in").toString,
      outputDir = new File(dir, "out").toString,
      stateFile = new File(dir, "state/offsets.json").toString,
      compression = None,
      minimumFileAgeMs = 0L)
    new Restructure(spark, cfg).run()
    val (deleted, reprocess) = new Cleaner(spark, cfg, ageMs = 0L)
      .run(now = System.currentTimeMillis + 60000)
    assert(deleted.map(_.stripPrefix("file:")) == Seq(f1.toString))
    assert(reprocess.isEmpty)
    assert(!f1.exists() && f2.exists())
  }

  test("output parts of two headers verify through their own headers: both sources are deleted") {
    // batch 2's writer schema adds value.status before time, so its part
    // files carry another header than batch 1's in the same bin dirs
    val statusSchema = new Schema.Parser().parse(
      """{"type":"record","name":"Envelope","fields":[
        | {"name":"key","type":{"type":"record","name":"ObservationKey","fields":[
        |   {"name":"projectId","type":["null","string"],"default":null},
        |   {"name":"userId","type":"string"},
        |   {"name":"sourceId","type":"string"}]}},
        | {"name":"value","type":{"type":"record","name":"Light","fields":[
        |   {"name":"status","type":"string"},
        |   {"name":"time","type":"double"},
        |   {"name":"light","type":"float"}]}}
        |]}""".stripMargin)
    def statusRecord(time: Double, light: Float): GenericRecord = {
      val key = new GenericData.Record(statusSchema.getField("key").schema())
      key.put("projectId", "p"); key.put("userId", "u"); key.put("sourceId", "s")
      val value = new GenericData.Record(statusSchema.getField("value").schema())
      value.put("status", "OK"); value.put("time", time); value.put("light", light)
      val rec = new GenericData.Record(statusSchema)
      rec.put("key", key); rec.put("value", value)
      rec
    }
    val dir = Files.createTempDirectory("graft-cleaner-headers").toFile
    val topicDir = new File(dir, "in/phone_light/partition=0")
    val f1 = new File(topicDir, "phone_light+0+0000000000+0000000001.avro")
    val f2 = new File(topicDir, "phone_light+0+0000000002+0000000003.avro")
    val f3 = new File(topicDir, "phone_light+0+0000000004.avro")
    writeAvro(f1, Seq(record(1580219940.0, 1f), record(1580219941.0, 2f)))
    f2.getParentFile.mkdirs()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](statusSchema))
    w.create(statusSchema, f2)
    Seq(statusRecord(1580219950.0, 3f), statusRecord(1580219951.0, 4f)).foreach(w.append)
    w.close()
    writeAvro(f3, Seq(record(1580219960.0, 5f)))
    val cfg = RestructureConfig(
      inputDir = new File(dir, "in").toString,
      outputDir = new File(dir, "out").toString,
      stateFile = new File(dir, "state/offsets.json").toString,
      compression = None,
      minimumFileAgeMs = 0L)
    new Restructure(spark, cfg).run()
    val (deleted, reprocess) = new Cleaner(spark, cfg, ageMs = 0L)
      .run(now = System.currentTimeMillis + 60000)
    assert(deleted.map(_.stripPrefix("file:")).toSet == Set(f1.toString, f2.toString))
    assert(reprocess.isEmpty)
    assert(!f1.exists() && !f2.exists() && f3.exists())
  }

  test("gzip output: restructure writes .csv.gz parts and cleaner verifies through them") {
    val dir = Files.createTempDirectory("graft-gzip").toFile
    val topicDir = new File(dir, "in/phone_light/partition=0")
    val f1 = new File(topicDir, "phone_light+0+0000000000+0000000001.avro")
    val f2 = new File(topicDir, "phone_light+0+0000000002.avro")
    writeAvro(f1, Seq(record(1580219940.0, 1f), record(1580219941.0, 2f)))
    writeAvro(f2, Seq(record(1580219950.0, 3f)))
    val cfg = RestructureConfig(
      inputDir = new File(dir, "in").toString,
      outputDir = new File(dir, "out").toString,
      stateFile = new File(dir, "state/offsets.json").toString,
      // default compression (gzip) left in place
      minimumFileAgeMs = 0L)
    new Restructure(spark, cfg).run()
    val parts = new File(cfg.outputDir, "phone_light/_project=p/_user=u")
      .listFiles().flatMap(_.listFiles()).map(_.getName).filter(_.startsWith("part-"))
    assert(parts.nonEmpty && parts.forall(_.endsWith(".csv.gz")))
    val (deleted, reprocess) = new Cleaner(spark, cfg, ageMs = 0L)
      .run(now = System.currentTimeMillis + 60000)
    assert(deleted.map(_.stripPrefix("file:")) == Seq(f1.toString))
    assert(reprocess.isEmpty)
  }

  test("a flipped byte inside a gzip part fails the read and the cleaner: its CRC-32 stands in for the .crc") {
    val dir = Files.createTempDirectory("graft-gzip-flip").toFile
    val topicDir = new File(dir, "in/phone_light/partition=0")
    val f1 = new File(topicDir, "phone_light+0+0000000000+0000000049.avro")
    val f2 = new File(topicDir, "phone_light+0+0000000050.avro")
    // one hour bin, one part file of 51 lines
    writeAvro(f1, (0 until 50).map(i => record(1580219940.0 + i, i.toFloat)))
    writeAvro(f2, Seq(record(1580219999.0, 0f)))
    val cfg = RestructureConfig(
      inputDir = new File(dir, "in").toString,
      outputDir = new File(dir, "out").toString,
      stateFile = new File(dir, "state/offsets.json").toString,
      minimumFileAgeMs = 0L)
    val job = new Restructure(spark, cfg)
    job.run()
    val bin = new File(cfg.outputDir, "phone_light/_project=p/_user=u/_bin=20200128_1300")
    val part = bin.listFiles().filter(_.getName.startsWith("part-")).toSeq match {
      case Seq(p) => p
      case ps     => fail(s"one part file expected: $ps")
    }
    assert(part.getName.endsWith(".csv.gz"))
    assert(!bin.listFiles().exists(_.getName.endsWith(".crc")))
    assert(job.readOutput("phone_light").count() == 51)

    val bytes = Files.readAllBytes(part.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xff).toByte
    Files.write(part.toPath, bytes)
    val state = job.loadState().toJson
    intercept[Exception](job.readOutput("phone_light").count())
    intercept[Exception](new Cleaner(spark, cfg, ageMs = 0L).run(now = System.currentTimeMillis + 60000))
    // nothing verified, nothing deleted, nothing readmitted
    assert(f1.exists() && f2.exists())
    assert(job.loadState().toJson == state)
  }

  test("cleaner reprocesses when output is missing records") {
    val dir = Files.createTempDirectory("graft-cleaner2").toFile
    val topicDir = new File(dir, "in/phone_light/partition=0")
    val f1 = new File(topicDir, "phone_light+0+0000000000+0000000001.avro")
    val f2 = new File(topicDir, "phone_light+0+0000000002.avro")
    writeAvro(f1, Seq(record(1580219940.0, 1f), record(1580219941.0, 2f)))
    writeAvro(f2, Seq(record(1580219950.0, 3f)))
    val cfg = RestructureConfig(
      inputDir = new File(dir, "in").toString,
      outputDir = new File(dir, "out").toString,
      stateFile = new File(dir, "state/offsets.json").toString,
      compression = None,
      minimumFileAgeMs = 0L)
    val job = new Restructure(spark, cfg)
    job.run()

    // tamper: wipe the topic output entirely
    def rm(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new File(cfg.outputDir, "phone_light"))
    new File(cfg.outputDir, "phone_light").mkdirs()

    val cleaner = new Cleaner(spark, cfg, ageMs = 0L)
    val (deleted, reprocess) = cleaner.run(now = System.currentTimeMillis + 60000)
    assert(deleted.isEmpty)
    assert(reprocess.map(_.stripPrefix("file:")) == Seq(f1.toString))
    // state range removed -> next restructure pass picks f1 up again
    val r = job.run()
    assert(r.files == 1)
  }

  test("a topic without output is probed on the filesystem, not by a failed query") {
    // the empty-output probe used to be a read that failed analysis; each
    // such failure reached every query execution listener of the session
    // (logged as an ERROR with a stack trace once a pass had registered
    // Spark's Observation listener)
    val dir = Files.createTempDirectory("graft-cleaner-nooutput").toFile
    val cfg = RestructureConfig(
      inputDir = new File(dir, "in").toString,
      outputDir = new File(dir, "out").toString,
      stateFile = new File(dir, "state/offsets.json").toString,
      compression = None,
      minimumFileAgeMs = 0L)
    new File(cfg.outputDir, "phone_light").mkdirs() // a topic dir with no part file
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "cleaner_spec_sentinel")) sentinelSeen.countDown()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
        failures.add(s"$funcName: ${exception.getMessage}")
    }
    spark.listenerManager.register(listener)
    try {
      val cleaner = new Cleaner(spark, cfg, ageMs = 0L)
      assert(cleaner.extractedTimes("phone_light").count() == 0)
      assert(cleaner.extractedTimes("never_written").count() == 0)
      // listener events arrive in order: once a later query's success is
      // seen, any failure the probes posted has been seen too
      spark.range(1).toDF("cleaner_spec_sentinel").collect()
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(failures.isEmpty, failures)
    } finally spark.listenerManager.unregister(listener)
  }

  test("parquet output verifies and cleans like csv/json") {
    // the columnar sink is a supported format end to end
    // (Restructure.write/readOutput) — the cleaner's verification read
    // must handle it too, or every cleaner tick of a parquet deployment
    // error-loops on 'unknown format'
    val dir = Files.createTempDirectory("graft-cleaner-parquet").toFile
    val topicDir = new File(dir, "in/phone_light/partition=0")
    val f1 = new File(topicDir, "phone_light+0+0000000000+0000000001.avro")
    val f2 = new File(topicDir, "phone_light+0+0000000002.avro")
    writeAvro(f1, Seq(record(1580219940.0, 1f), record(1580219941.0, 2f)))
    writeAvro(f2, Seq(record(1580219950.0, 3f)))
    val cfg = RestructureConfig(
      inputDir = new File(dir, "in").toString,
      outputDir = new File(dir, "out").toString,
      stateFile = new File(dir, "state/offsets.json").toString,
      format = "parquet",
      compression = None,
      minimumFileAgeMs = 0L)
    new Restructure(spark, cfg).run()
    val cleaner = new Cleaner(spark, cfg, ageMs = 0L)
    val (deleted, reprocess) = cleaner.run(now = System.currentTimeMillis + 60000)
    assert(deleted.map(_.stripPrefix("file:")) == Seq(f1.toString))
    assert(reprocess.isEmpty)
    assert(!f1.exists() && f2.exists()) // P9: newest end-less file survives
  }

  test("a candidate whose verification read yields no rows is skipped, never deleted") {
    // corrupt a ledgered file AFTER processing: the tolerant verification
    // read quarantines it and produces zero rows for its path, so the
    // file is absent from the unmatched map — the old forall(None)=true
    // treated that as verified and DELETED the unverified file
    val dir = Files.createTempDirectory("graft-cleaner-corrupt").toFile
    val topicDir = new File(dir, "in/phone_light/partition=0")
    val f1 = new File(topicDir, "phone_light+0+0000000000+0000000001.avro")
    val f2 = new File(topicDir, "phone_light+0+0000000002+0000000003.avro")
    val f3 = new File(topicDir, "phone_light+0+0000000004.avro")
    writeAvro(f1, Seq(record(1580219940.0, 1f), record(1580219941.0, 2f)))
    writeAvro(f2, Seq(record(1580219950.0, 3f), record(1580219951.0, 4f)))
    writeAvro(f3, Seq(record(1580219960.0, 5f)))
    val cfg = RestructureConfig(
      inputDir = new File(dir, "in").toString,
      outputDir = new File(dir, "out").toString,
      stateFile = new File(dir, "state/offsets.json").toString,
      compression = None,
      minimumFileAgeMs = 0L)
    val job = new Restructure(spark, cfg)
    job.run()
    // corrupt f2 in place PRESERVING its mtime (garbage bytes behind an
    // intact avro magic: deterministic container corruption, not a
    // transient short read). A newer mtime would make candidacy reject it
    // under the W5 rewrite rule (recorded mtime < file mtime -> reprocess
    // via restructure, not clean) before verification ever reads the
    // bytes — the skip path under test needs a candidate whose READ fails
    val mtime0 = f2.lastModified()
    java.nio.file.Files.write(f2.toPath, ("Obj" + "x" * 64).getBytes("UTF-8"))
    assert(f2.setLastModified(mtime0))

    val cleaner = new Cleaner(spark, cfg, ageMs = 0L)
    val (deleted, reprocess) = cleaner.run(now = System.currentTimeMillis + 60000)
    // f1 verified and deleted; f2 skipped (quarantined by the read, its
    // range untouched); f3 protected
    assert(deleted.map(_.stripPrefix("file:")) == Seq(f1.toString))
    assert(reprocess.isEmpty, "an unreadable candidate must not readmit")
    assert(!f1.exists() && f3.exists())
    assert(new File(topicDir, s"${f2.getName}.corrupted").exists(),
      "the tolerant verification read should have quarantined the corrupt file")
    // the ledger still covers f2's range: nothing replans it
    assert(job.plan("phone_light", job.loadState()).isEmpty)
  }

  test("readmission commit preserves a concurrent instance's additions (lock protocol)") {
    // multi-instance: the cleaner's removal commit must read-merge-write
    // under the __state lock — a whole-file save of its stale snapshot
    // would erase ranges another instance committed between the cleaner's
    // load and its save (those files would silently reprocess)
    val dir = Files.createTempDirectory("graft-cleaner-lock").toFile
    val cfg = RestructureConfig(
      inputDir = new File(dir, "in").toString,
      outputDir = new File(dir, "out").toString,
      stateFile = new File(dir, "state/offsets.json").toString,
      lockDir = Some(new File(dir, "locks").toString),
      minimumFileAgeMs = 0L)
    val job = new Restructure(spark, cfg)
    val tpA = graft.state.TopicPartition("topic_a", 0)
    val tpB = graft.state.TopicPartition("topic_b", 0)
    val t = java.time.Instant.parse("2024-01-01T00:00:00Z")

    val disk0 = new graft.state.OffsetRangeSet
    disk0.add(tpA, 0L, 10L, t)
    job.saveState(disk0)
    val cleaner = new Cleaner(spark, cfg, ageMs = 0L)
    val snapshot = job.loadState() // the cleaner pass's stale view

    // a concurrent restructure instance commits topic_b AFTER the load
    val disk1 = job.loadState()
    disk1.add(tpB, 0L, 5L, t)
    job.saveState(disk1)

    cleaner.commitRemovals(snapshot, Seq((tpA, 3L, 6L)))
    val merged = job.loadState()
    assert(merged.contains(tpB, 0L, 5L, t), "concurrent commit must survive")
    assert(merged.contains(tpA, 0L, 2L, t) && merged.contains(tpA, 7L, 10L, t))
    assert(!merged.contains(tpA, 3L, t) && !merged.contains(tpA, 6L, t),
      "the readmitted range must be removed")
    assert(new File(dir, "locks").listFiles().forall(!_.getName.endsWith(".lock")),
      "the __state lock must be released")
  }

  test("under-lock state reload is FRESH: a concurrent readmission is not resurrected") {
    // round-19 advisory: the old additive merge (state.addAll(loadState()))
    // resurrected ranges a concurrent cleaner REMOVED between this pass's
    // initial load and its topic-lock acquisition, so an already-readmitted
    // file was re-evaluated as a candidate and could be deleted instead of
    // left for the restructure pass to reprocess. The seam lands the
    // concurrent removal inside that exact window.
    val dir = Files.createTempDirectory("graft-cleaner-fresh").toFile
    val topicDir = new File(dir, "in/phone_light/partition=0")
    val f1 = new File(topicDir, "phone_light+0+0000000000+0000000001.avro")
    val f2 = new File(topicDir, "phone_light+0+0000000004.avro")
    writeAvro(f1, Seq(record(1580219940.0, 1f), record(1580219941.0, 2f)))
    writeAvro(f2, Seq(record(1580219960.0, 5f)))
    val cfg = RestructureConfig(
      inputDir = new File(dir, "in").toString,
      outputDir = new File(dir, "out").toString,
      stateFile = new File(dir, "state/offsets.json").toString,
      lockDir = Some(new File(dir, "locks").toString),
      compression = None,
      minimumFileAgeMs = 0L)
    val job = new Restructure(spark, cfg)
    job.run()

    val cleaner = new Cleaner(spark, cfg, ageMs = 0L)
    val tp = graft.state.TopicPartition("phone_light", 0)
    cleaner.beforeTopicClean = _ => {
      // a concurrent instance readmits f1 AFTER our initial load, BEFORE
      // our topic lock: its range leaves the committed state
      val disk = job.loadState()
      disk.remove(tp, 0L, 2L)
      job.saveState(disk)
    }
    val (deleted, reprocess) = cleaner.run(now = System.currentTimeMillis + 60000)
    // fresh reload under the lock sees the removal: f1 is no candidate —
    // neither deleted (it belongs to the restructure pass now) nor
    // readmitted again
    assert(deleted.isEmpty && reprocess.isEmpty,
      s"readmitted file must be left alone, got deleted=$deleted reprocess=$reprocess")
    assert(f1.exists(), "a concurrently-readmitted file must survive the pass")
    // and the next restructure pass heals the readmission
    job.run()
    assert(job.plan("phone_light", job.loadState()).isEmpty)
  }
}
