package graft.restructure

import graft.SparkSpec
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

import java.io.File
import java.nio.file.Files

/** End-to-end restructure pipeline test mirroring the reference's
  * integration golden (RestructureS3IntegrationTest.kt:40-98, FIXTURES.md
  * §3.2): Avro sink files -> per-(project,user,hour) flattened CSV with
  * dedup, schema sidecar, offset state, and incremental re-run.
  */
/** Shared avro sink fixture: two files of one topic, 4 records, 1 duplicate
  * (also used by LocksSpec's concurrent-instance test). */
object RestructureFixture {

  private val schemaJson =
    """{"type":"record","name":"Envelope","fields":[
      | {"name":"key","type":{"type":"record","name":"ObservationKey","fields":[
      |   {"name":"projectId","type":["null","string"],"default":null},
      |   {"name":"userId","type":"string"},
      |   {"name":"sourceId","type":"string"}]}},
      | {"name":"value","type":{"type":"record","name":"ServerStatus","fields":[
      |   {"name":"time","type":"double"},
      |   {"name":"serverStatus","type":"string"},
      |   {"name":"ipAddress","type":["null","string"],"default":null}]}}
      |]}""".stripMargin

  private val schema = new Schema.Parser().parse(schemaJson)

  def record(time: Double, status: String): GenericRecord = {
    val key = new GenericData.Record(schema.getField("key").schema())
    key.put("projectId", "STAGING_PROJECT")
    key.put("userId", "user1")
    key.put("sourceId", "source1")
    val value = new GenericData.Record(schema.getField("value").schema())
    value.put("time", time)
    value.put("serverStatus", status)
    value.put("ipAddress", null)
    val rec = new GenericData.Record(schema)
    rec.put("key", key)
    rec.put("value", value)
    rec
  }

  def writeAvro(file: File, records: Seq[GenericRecord]): Unit = {
    file.getParentFile.mkdirs()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, file)
    records.foreach(w.append)
    w.close()
  }

  // 2020-01-28T13:59 and 14:01 UTC — the two hour bins of the reference test
  val t1 = 1580219940.0
  val t2 = 1580220060.0

  def setup(): (File, RestructureConfig) = {
    val dir = Files.createTempDirectory("graft-restructure").toFile
    val topicDir = new File(dir, "in/application_server_status/partition=1")
    // offsets 18-20: two records in bin 13:00 (one duplicated), one in 14:00
    writeAvro(
      new File(topicDir, "application_server_status+1+0000000018+0000000020.avro"),
      Seq(record(t1, "CONNECTED"), record(t1, "CONNECTED"), record(t2, "DISCONNECTED")))
    // offset 21: one more record, 14:00 bin
    writeAvro(
      new File(topicDir, "application_server_status+1+0000000021.avro"),
      Seq(record(t2, "CONNECTED")))
    val cfg = RestructureConfig(
      inputDir = new File(dir, "in").toString,
      outputDir = new File(dir, "out").toString,
      stateFile = new File(dir, "state/offsets.json").toString,
      compression = None,
      minimumFileAgeMs = 0L,
      dedupDefault = DedupConfig(enable = true))
    (dir, cfg)
  }
}

class RestructureSpec extends SparkSpec {
  import RestructureFixture.{record, setup, t1, t2, writeAvro}

  test("restructure: topic discovery, hourly bins, flatten, dedup, state, incremental") {
    val (dir, cfg) = setup()
    val job = new Restructure(spark, cfg)

    assert(job.listTopics() == Seq("application_server_status"))
    val files = job.plan("application_server_status", new graft.state.OffsetRangeSet)
    assert(files.map(_.startOffset) == Seq(18L, 21L))
    assert(files.head.endOffset.contains(20L))

    val r1 = job.run()
    assert(r1.files == 2)
    // 4 records read, 1 duplicate removed by dedup -> 3 written; the count
    // must come from the executed write (Observation), not a dead plan
    assert(r1.records == 3)

    // output layout: per (project, user, bin) partitions
    val out = new File(cfg.outputDir, "application_server_status")
    def binDir(bin: String) =
      new File(out, s"_project=STAGING_PROJECT/_user=user1/_bin=$bin")
    assert(binDir("20200128_1300").exists())
    assert(binDir("20200128_1400").exists())
    assert(new File(out, "schema-application_server_status.json").exists())

    // flattened dotted columns + dedup (duplicate record removed)
    val bin13 = spark.read.option("header", "true")
      .csv(binDir("20200128_1300").toString)
    assert(bin13.columns.toSeq == Seq(
      "key.projectId", "key.userId", "key.sourceId",
      "value.time", "value.serverStatus", "value.ipAddress"))
    assert(bin13.count() == 1) // two identical records deduped to one
    val row = bin13.head
    assert(row.getAs[String]("key.projectId") == "STAGING_PROJECT")
    assert(row.getAs[String]("value.serverStatus") == "CONNECTED")

    val bin14 = spark.read.option("header", "true")
      .csv(binDir("20200128_1400").toString)
    assert(bin14.count() == 2)

    // state: offsets 18..21 of partition 1 recorded as one coalesced range
    val state = job.loadState()
    val ranges = state.entries
    assert(ranges.map { case (tp, r) => (tp.topic, tp.partition, r.from, r.to) } ==
      Seq(("application_server_status", 1, 18L, 21L)))

    // incremental: second pass plans nothing and processes nothing
    val r2 = job.run()
    assert(r2.files == 0)
  }

  test("readOutput dedups whole rows across part files after state loss") {
    val (dir, cfg) = setup()
    val job = new Restructure(spark, cfg)
    job.run()
    // simulate state loss: wipe the state file -> next pass reprocesses
    // everything and appends duplicate part files
    new File(cfg.stateFile).delete()
    val r = job.run()
    assert(r.files == 2) // reprocessed
    val raw = job.readOutput("application_server_status", dedup = false)
    val deduped = job.readOutput("application_server_status")
    assert(raw.count() == 6)    // 3 records written twice
    assert(deduped.count() == 3) // distinct restores exactly-once output
  }

  test("excludeTopics and maxFilesPerTopic bound a pass (config-driven)") {
    val (dir, _) = setup()
    val cfg = ConfigLoader.fromString(
      s"""input=$dir/in
         |output=$dir/out2
         |state=$dir/state2/offsets.json
         |compression=none
         |minimumFileAgeMs=0
         |maxFilesPerTopic=1
         |""".stripMargin)
    val job = new Restructure(spark, cfg)
    // limit: only the first file (by partition, startOffset) per pass
    val plan1 = job.plan("application_server_status", new graft.state.OffsetRangeSet)
    assert(plan1.map(_.startOffset) == Seq(18L))
    assert(job.run().files == 1)
    assert(job.run().files == 1) // second pass picks up the remaining file
    assert(job.run().files == 0)

    val excluded = ConfigLoader.fromString(
      s"""input=$dir/in
         |output=$dir/out3
         |state=$dir/state3/offsets.json
         |excludeTopics=application_server_status
         |""".stripMargin)
    assert(new Restructure(spark, excluded).listTopics().isEmpty)
  }

  test("restructure re-extracts a rewritten file's records (W5)") {
    val (dir, cfg) = setup()
    val f = new File(dir,
      "in/application_server_status/partition=1/application_server_status+1+0000000021.avro")
    // age the inputs so the first pass records an old lastProcessed
    new File(dir, "in/application_server_status/partition=1").listFiles()
      .foreach(_.setLastModified(System.currentTimeMillis - 120000))
    val job = new Restructure(spark, cfg)
    job.run()

    // upstream rewrites the offset-21 file (same name, fresh mtime)
    writeAvro(f, Seq(record(t2, "REWRITTEN")))
    val r = job.run()
    assert(r.files == 1)
    assert(r.records == 1) // the rewritten record survived the seen filter
    val out = job.readOutput("application_server_status", dedup = false)
    assert(out.filter(org.apache.spark.sql.functions.col("`value.serverStatus`") === "REWRITTEN").count() == 1)

    // state now carries the new mtime: a third pass plans nothing
    assert(job.run().files == 0)
  }

  test("streaming restructure: incremental passes through the DSv2 source") {
    val (dir, cfg) = setup()
    val cp = new File(dir, "cp").toString
    def pass(): Unit = {
      val q = graft.streaming.Streaming.restructureStream(
        spark, cfg, "application_server_status", cp)
      q.awaitTermination()
    }
    pass()
    val out = new File(cfg.outputDir, "application_server_status")
    val bin13 = spark.read.option("header", "true").csv(
      new File(out, "_project=STAGING_PROJECT/_user=user1/_bin=20200128_1300").toString)
    assert(bin13.count() == 1) // dedup applied inside the micro-batch
    assert(new File(out, "schema-application_server_status.json").exists())

    // new sink file -> only its record flows in pass 2 (checkpointed offset)
    writeAvro(
      new File(dir, "in/application_server_status/partition=1/application_server_status+1+0000000022.avro"),
      Seq(record(t2, "LATE")))
    pass()
    val all = new Restructure(spark, cfg).readOutput("application_server_status", dedup = false)
    assert(all.count() == 4) // 3 from pass 1 + 1 from pass 2, no re-reads
    pass() // nothing new: no change
    assert(new Restructure(spark, cfg).readOutput("application_server_status", dedup = false).count() == 4)
  }

  test("endOffset from a metadata sidecar overrides the filename (S3-tag shape)") {
    val (dir, cfg) = setup()
    // the open-ended file (+21, no end) gets a sidecar declaring endOffset
    val f = new File(dir,
      "in/application_server_status/partition=1/application_server_status+1+0000000021.avro")
    Files.write(f.toPath.resolveSibling(f.getName + ".meta"),
      "endOffset=23\n".getBytes)
    val without = new Restructure(spark, cfg)
      .listFiles("application_server_status").sortBy(_.startOffset)
    assert(without.map(_.endOffset) == Seq(Some(20L), None))
    val withMeta = new Restructure(spark, cfg.copy(endOffsetFromMetadata = true))
      .listFiles("application_server_status").sortBy(_.startOffset)
    assert(withMeta.map(_.endOffset) == Seq(Some(20L), Some(23L)))

    // a MALFORMED sidecar must fall back to the filename, not kill the
    // pass: Properties.load throws IllegalArgumentException (not
    // IOException) on a broken \uXXXX escape from a corrupted write
    Files.write(f.toPath.resolveSibling(f.getName + ".meta"),
      "endOffset=\\u00zz\n".getBytes)
    val broken = new Restructure(spark, cfg.copy(endOffsetFromMetadata = true))
      .listFiles("application_server_status").sortBy(_.startOffset)
    assert(broken.map(_.endOffset) == Seq(Some(20L), None))
  }

  test("a second input root contributes topics and files (paths.inputs list)") {
    val (dir, base) = setup()
    // second root: another topic, plus more files for the existing one
    val in2 = new File(dir, "in2")
    writeAvro(
      new File(in2, "application_server_status/partition=1/application_server_status+1+0000000022.avro"),
      Seq(record(t2 + 60, "EXTRA")))
    writeAvro(
      new File(in2, "other_topic/partition=0/other_topic+0+0000000000.avro"),
      Seq(record(t1, "OTHER")))
    val cfg = base.copy(extraInputDirs = Seq(in2.toString))
    val job = new Restructure(spark, cfg)
    assert(job.listTopics() == Seq("application_server_status", "other_topic"))
    assert(job.listFiles("application_server_status").size == 3) // 2 + 1 merged
    val r = job.run()
    assert(r.topics == 2 && r.files == 4)
  }

  test("streaming restructure reads every input root, and a root that gains a topic later") {
    val (dir, base) = setup()
    // the batch case's second root: another topic, plus more files for the existing one
    val in2 = new File(dir, "in2")
    writeAvro(
      new File(in2, "application_server_status/partition=1/application_server_status+1+0000000022.avro"),
      Seq(record(t2 + 60, "EXTRA")))
    writeAvro(
      new File(in2, "other_topic/partition=0/other_topic+0+0000000000.avro"),
      Seq(record(t1, "OTHER")))
    val cfg = base.copy(extraInputDirs = Seq(in2.toString))
    val twin = cfg.copy(outputDir = new File(dir, "out-twin").toString,
      stateFile = new File(dir, "state-twin/offsets.json").toString)
    def rows(c: RestructureConfig, topic: String) = {
      val df = new Restructure(spark, c).readOutput(topic, dedup = false)
      df.select(df.columns.sorted.map(n => org.apache.spark.sql.functions.col(s"`$n`")): _*)
        .collect().map(_.mkString("|")).sorted.toSeq
    }
    def same(): Unit = for (topic <- Seq("application_server_status", "other_topic")) {
      val streamed = rows(cfg, topic)
      assert(streamed.nonEmpty && streamed == rows(twin, topic), topic)
    }
    assert(graft.Main.runStream(spark, cfg) == 2)
    assert(new Restructure(spark, twin).run().files == 4)
    same()
    assert(rows(cfg, "application_server_status").exists(_.contains("EXTRA")))

    // the first root gains other_topic: its source, empty so far, streams it
    for (root <- Seq("in", "in2")) writeAvro(
      new File(dir, s"$root/other_topic/partition=0/other_topic+0+000000000${if (root == "in") 5 else 6}.avro"),
      Seq(record(t2, s"LATER-$root")))
    assert(graft.Main.runStream(spark, cfg) == 2)
    assert(new Restructure(spark, twin).run().files == 2)
    same()
    assert(rows(cfg, "other_topic").size == 3)
  }

  test("CSV output of two writer schemas reads back by column name") {
    val (dir, cfg) = setup()
    // a drifted writer: value gains a leading field, which shifts the
    // position of every later column in the batch's header
    val drifted = new Schema.Parser().parse(
      """{"type":"record","name":"Envelope","fields":[
        | {"name":"key","type":{"type":"record","name":"ObservationKey","fields":[
        |   {"name":"projectId","type":["null","string"],"default":null},
        |   {"name":"userId","type":"string"},
        |   {"name":"sourceId","type":"string"}]}},
        | {"name":"value","type":{"type":"record","name":"ServerStatus","fields":[
        |   {"name":"uptime","type":"long"},
        |   {"name":"time","type":"double"},
        |   {"name":"serverStatus","type":"string"},
        |   {"name":"ipAddress","type":["null","string"],"default":null}]}}
        |]}""".stripMargin)
    val key = new GenericData.Record(drifted.getField("key").schema())
    key.put("projectId", "STAGING_PROJECT"); key.put("userId", "user1"); key.put("sourceId", "source1")
    val value = new GenericData.Record(drifted.getField("value").schema())
    value.put("uptime", 99L); value.put("time", t2 + 30); value.put("serverStatus", "DRIFTED")
    val rec = new GenericData.Record(drifted)
    rec.put("key", key); rec.put("value", value)
    val f = new File(dir, "in/application_server_status/partition=1/application_server_status+1+0000000022.avro")
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](drifted))
    w.create(drifted, f)
    w.append(rec)
    w.close()

    val job = new Restructure(spark, cfg)
    assert(job.run().files == 3)
    import spark.implicits._
    val back = job.readOutput("application_server_status", dedup = false)
      .select($"`value.serverStatus`", $"`value.time`", $"`value.uptime`", $"_bin")
      .as[(String, String, String, String)].collect().sortBy(r => (r._2, r._1)).toSeq
    assert(back == Seq(
      ("CONNECTED", t1.toString, null, "20200128_1300"),
      ("CONNECTED", t2.toString, null, "20200128_1400"),
      ("DISCONNECTED", t2.toString, null, "20200128_1400"),
      ("DRIFTED", (t2 + 30).toString, "99", "20200128_1400")))
  }

  test("restructure: late file appends to an existing bin") {
    val (dir, cfg) = setup()
    val job = new Restructure(spark, cfg)
    job.run()
    // a late record for the 13:00 bin arrives in a new file (offset 22)
    writeAvro(
      new File(dir, "in/application_server_status/partition=1/application_server_status+1+0000000022.avro"),
      Seq(record(t1 + 30, "DEGRADED"))) // 13:59:30 — still the 13:00 bin
    val r = job.run()
    assert(r.files == 1)
    val bin13 = spark.read.option("header", "true").csv(
      new File(cfg.outputDir,
        "application_server_status/_project=STAGING_PROJECT/_user=user1/_bin=20200128_1300").toString)
    assert(bin13.count() == 2) // original + late append
    assert(job.loadState().entries.map(_._2.to) == Seq(22L))
  }

  test("maxRecordsPerFile rolls output files inside a bin; content unchanged") {
    val (_, cfg0) = setup()
    val cfg = cfg0.copy(maxRecordsPerFile = Some(1L))
    val job = new Restructure(spark, cfg)
    job.run()
    // bin 14:00 holds 2 records (offsets 20, 21) — the cap of 1 forces
    // them into 2 part files instead of one
    val binDir = new File(cfg.outputDir,
      "application_server_status/_project=STAGING_PROJECT/_user=user1/_bin=20200128_1400")
    val parts = Option(binDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("part-"))
    assert(parts.length >= 2, s"expected rolled files, got ${parts.length}")
    // rolling is a file-layout concern only: reading the topic back
    // yields the same records as the uncapped config
    val rolled = job.readOutput("application_server_status")
      .orderBy("`value.time`", "`value.serverStatus`").collect().map(_.toSeq).toSeq
    val (_, cfgPlain) = setup()
    val plain = new Restructure(spark, cfgPlain)
    plain.run()
    val want = plain.readOutput("application_server_status")
      .orderBy("`value.time`", "`value.serverStatus`").collect().map(_.toSeq).toSeq
    assert(rolled == want)
  }

  test("cross-partition keep-last ties break deterministically") {
    // equal dedup key (value.time) at the SAME offset in two partitions:
    // _offset alone cannot order them — the (offset, partition) struct
    // must pick the partition-1 row
    val dir = Files.createTempDirectory("graft-tie").toFile
    writeAvro(
      new File(dir, "in/application_server_status/partition=0/application_server_status+0+0000000005.avro"),
      Seq(record(t1, "FROM_P0")))
    writeAvro(
      new File(dir, "in/application_server_status/partition=1/application_server_status+1+0000000005.avro"),
      Seq(record(t1, "FROM_P1")))
    val cfg = RestructureConfig(
      inputDir = new File(dir, "in").toString,
      outputDir = new File(dir, "out").toString,
      stateFile = new File(dir, "state/offsets.json").toString,
      compression = None,
      minimumFileAgeMs = 0L,
      dedupDefault = DedupConfig(enable = true, distinctFields = Seq("value.time")))
    val job = new Restructure(spark, cfg)
    job.run()
    assert(job.readOutput("application_server_status")
      .select("`value.serverStatus`").collect().map(_.getString(0)).toSeq == Seq("FROM_P1"))
  }

  /** A config over `dir/in` with the given dedup settings. */
  private def configAt(dir: File, dedup: DedupConfig) = RestructureConfig(
    inputDir = new File(dir, "in").toString,
    outputDir = new File(dir, "out").toString,
    stateFile = new File(dir, "state/offsets.json").toString,
    compression = None,
    minimumFileAgeMs = 0L,
    dedupDefault = dedup)

  private def recordOf(user: String, time: Double, status: String): GenericRecord = {
    val r = record(time, status)
    r.get("key").asInstanceOf[GenericRecord].put("userId", user)
    r
  }

  test("distinctFields dedup within one output file, never across users") {
    // the reference dedups the lines of one project/user/topic/hour file:
    // equal value.time for two users is two files, so both rows survive
    val dir = Files.createTempDirectory("graft-dedup-scope").toFile
    val in = new File(dir, "in/application_server_status")
    writeAvro(new File(in, "partition=0/application_server_status+0+0000000000.avro"),
      Seq(recordOf("userA", t1, "FROM_A")))
    writeAvro(new File(in, "partition=1/application_server_status+1+0000000000.avro"),
      Seq(recordOf("userB", t1, "FROM_B")))
    val cfg = configAt(dir, DedupConfig(enable = true, distinctFields = Seq("value.time")))
    val job = new Restructure(spark, cfg)
    assert(job.run().records == 2)
    assert(job.readOutput("application_server_status")
      .select("`value.serverStatus`").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("FROM_A", "FROM_B"))
    // so the cleaner verifies every record of both source files
    val unmatched = new Cleaner(spark, cfg)
      .unmatchedCounts("application_server_status", job.listFiles("application_server_status"))
    assert(unmatched.size == 2)
    assert(unmatched.values.forall(_._1 == 0L), unmatched)
  }

  test("a dotted ignoreFields name leaves that leaf out of the dedup key") {
    val dir = Files.createTempDirectory("graft-dedup-ignore").toFile
    writeAvro(
      new File(dir, "in/application_server_status/partition=1/application_server_status+1+0000000010+0000000011.avro"),
      Seq(record(t1, "CONNECTED"), record(t1, "DISCONNECTED")))
    val job = new Restructure(spark,
      configAt(dir, DedupConfig(enable = true, ignoreFields = Seq("value.serverStatus"))))
    assert(job.run().records == 1)
    // the two records differ only in the ignored leaf: the last one by
    // (offset, partition) is kept
    assert(job.readOutput("application_server_status", dedup = false)
      .select("`value.serverStatus`").collect().map(_.getString(0)).toSeq == Seq("DISCONNECTED"))
  }

  test("JSON output dedups whole lines; distinctFields do not apply") {
    // the reference's JSON format dedups by whole line, keeping the first
    // (D2): two records equal only in the distinctFields leaf are two
    // lines, both written; two identical records are one line
    val dir = Files.createTempDirectory("graft-dedup-json").toFile
    writeAvro(
      new File(dir, "in/application_server_status/partition=1/application_server_status+1+0000000010+0000000012.avro"),
      Seq(record(t1, "CONNECTED"), record(t1, "DISCONNECTED"), record(t1, "DISCONNECTED")))
    val job = new Restructure(spark,
      configAt(dir, DedupConfig(enable = true, distinctFields = Seq("value.time")))
        .copy(format = "json"))
    assert(job.run().records == 2)
    assert(job.readOutput("application_server_status", dedup = false)
      .select("`value.serverStatus`").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("CONNECTED", "DISCONNECTED"))
  }

  test("keep-last dedup with default keys on a payload holding a map") {
    // default keys are the whole payload, here a value struct holding an
    // Avro map (the questionnaire-answer shape): Spark cannot sort maps, so
    // the dedup window must key on an orderable form of it
    val schema = new Schema.Parser().parse(
      """{"type":"record","name":"Envelope","fields":[
        | {"name":"key","type":{"type":"record","name":"ObservationKey","fields":[
        |   {"name":"projectId","type":"string"},
        |   {"name":"userId","type":"string"},
        |   {"name":"sourceId","type":"string"}]}},
        | {"name":"value","type":{"type":"record","name":"Answers","fields":[
        |   {"name":"time","type":"double"},
        |   {"name":"answers","type":{"type":"map","values":"string"}}]}}
        |]}""".stripMargin)
    def rec(answers: (String, String)*): GenericRecord = {
      val key = new GenericData.Record(schema.getField("key").schema())
      key.put("projectId", "p"); key.put("userId", "u"); key.put("sourceId", "s")
      val m = new java.util.LinkedHashMap[String, String]()
      answers.foreach { case (k, v) => m.put(k, v) }
      val value = new GenericData.Record(schema.getField("value").schema())
      value.put("time", t1); value.put("answers", m)
      val r = new GenericData.Record(schema)
      r.put("key", key); r.put("value", value)
      r
    }
    def write(file: File, records: GenericRecord*): Unit = {
      file.getParentFile.mkdirs()
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, file)
      records.foreach(w.append)
      w.close()
    }
    val dir = Files.createTempDirectory("graft-map-dedup").toFile
    val topic = new File(dir, "in/questionnaire")
    write(new File(topic, "partition=1/questionnaire+1+0000000006+0000000007.avro"),
      rec("a" -> "1", "b" -> "2"), rec("b" -> "2", "a" -> "1"))
    write(new File(topic, "partition=0/questionnaire+0+0000000007+0000000008.avro"),
      rec("a" -> "1", "b" -> "2"), rec("a" -> "3"))
    val cfg = RestructureConfig(
      inputDir = new File(dir, "in").toString,
      outputDir = new File(dir, "out").toString,
      stateFile = new File(dir, "state/offsets.json").toString,
      compression = None,
      minimumFileAgeMs = 0L,
      dedupDefault = DedupConfig(enable = true))
    val job = new Restructure(spark, cfg)
    assert(job.run().records == 2)
    // the CSV header expands the map into one column per key
    assert(job.readOutput("questionnaire", dedup = false)
      .select("`value.answers.a`", "`value.answers.b`").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).sorted.toSeq ==
      Seq(("1", Some("2")), ("3", None)))

    // which record survives: the dedup step itself over flat records that
    // keep their metadata. The same entries in another insertion order are
    // the same key; per key the last by (offset, partition) wins.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types._
    val flatSchema = StructType(Seq(
      StructField("value", StructType(Seq(
        StructField("time", DoubleType),
        StructField("answers", MapType(StringType, StringType))))),
      StructField("_offset", LongType),
      StructField("_partition", IntegerType)))
    def flat(offset: Long, partition: Int, answers: (String, String)*): Row =
      Row(Row(t1, scala.collection.immutable.ListMap(answers: _*)), offset, partition)
    val records = spark.createDataFrame(java.util.Arrays.asList(
      flat(6, 1, "a" -> "1", "b" -> "2"),
      flat(7, 1, "b" -> "2", "a" -> "1"),
      flat(7, 0, "a" -> "1", "b" -> "2"),
      flat(5, 1, "a" -> "3"),
      flat(8, 0, "a" -> "3")), flatSchema)
    val kept = job.dedup("questionnaire", records
        .withColumn("_project", lit("p")).withColumn("_user", lit("u")).withColumn("_bin", lit("b")))
      .select("_offset", "_partition").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(kept == Set((7L, 1), (8L, 0)))
  }

  test("compression zip writes single-entry .zip parts that read back, with no .crc beside a csv part") {
    for (format <- Seq("csv", "json")) {
      val (_, base) = setup()
      val cfg = base.copy(format = format, compression = Some("zip"))
      val job = new Restructure(spark, cfg)
      assert(job.run().records == 3)
      val bin13 = new File(cfg.outputDir,
        "application_server_status/_project=STAGING_PROJECT/_user=user1/_bin=20200128_1300")
      val names = bin13.listFiles().map(_.getName)
      assert(names.exists(_.startsWith("part-")), names.toSeq)
      assert(names.filter(_.startsWith("part-")).forall(_.endsWith(s".$format.zip")), names.toSeq)
      // csv parts are created without a sidecar; Spark's json writer keeps one
      assert(names.exists(_.endsWith(".crc")) == (format == "json"), names.toSeq)
      val back = job.readOutput("application_server_status")
      assert(back.count() == 3, format)
      assert(back.filter(
        org.apache.spark.sql.functions.col("`value.serverStatus`") === "CONNECTED").count() == 2)
    }
  }

  test("restructure: parquet sink keeps the flattened layout and round-trips") {
    val (_, base) = setup()
    val cfg = base.copy(format = "parquet")
    val job = new Restructure(spark, cfg)
    val r1 = job.run()
    assert(r1.files == 2 && r1.records == 3)

    val out = new File(cfg.outputDir, "application_server_status")
    val bin13 = new File(out,
      "_project=STAGING_PROJECT/_user=user1/_bin=20200128_1300")
    assert(bin13.exists(), "hourly bin layout must match the csv sink's")
    assert(bin13.listFiles().exists(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")))

    // same flattened dotted columns as csv/json, read straight back
    val back = job.readOutput("application_server_status")
    assert(back.columns.sorted.toSeq == Seq(
      "_bin", "_project", "_user",
      "key.projectId", "key.sourceId", "key.userId",
      "value.ipAddress", "value.serverStatus", "value.time").sorted)
    assert(back.count() == 3)
    assert(back.filter(
      org.apache.spark.sql.functions.col("`value.serverStatus`") === "CONNECTED")
      .count() == 2)

    // incremental: committed state makes a re-run a no-op for parquet too
    val r2 = new Restructure(spark, cfg).run()
    assert(r2.files == 0 && r2.records == 0)
  }
}
