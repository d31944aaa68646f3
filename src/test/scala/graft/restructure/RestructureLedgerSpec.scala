package graft.restructure

import graft.SparkSpec
import graft.operators.Intervals
import graft.state.{OffsetRangeSet, TopicPartition}
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import java.io.File
import java.nio.file.StandardOpenOption
import java.time.Instant
import scala.collection.mutable

/** The driver-side offset ledger [[Restructure.run]] commits: built from
  * the row counts the write job's own Avro scan reports, it must equal the
  * distributed reference form `collectRanges(processedRanges(unseen))`
  * over the same batch — and the pass must decode the source once per
  * batch. */
class RestructureLedgerSpec extends SparkSpec {
  import RestructureFixture.{record, setup, t1, t2, writeAvro}

  private val topic = "application_server_status"

  private def partitionDir(dir: File) = new File(dir, s"in/$topic/partition=1")
  private def fileAt(dir: File, name: String) = new File(partitionDir(dir), s"$topic+1+$name.avro")

  private type Entries = Seq[(Int, Long, Long, Instant)]

  private def entries(set: OffsetRangeSet): Entries =
    set.entries.map { case (tp, r) => (tp.partition, r.from, r.to, r.lastProcessed) }

  /** Every batch of `files` the way run() handles it — filterSeen against
    * `seen`, the write job, the ledger — paired with the reference ranges
    * computed over the same batch afterwards. `seen` takes each batch's
    * ledger before the next batch is filtered, as run()'s commit does. */
  private def ledgers(job: Restructure, files: Seq[TopicFile], seen: OffsetRangeSet)
      : Seq[(Entries, Entries)] =
    job.readBatches(topic, files).map { batch =>
      val unseen = job.filterSeen(batch.df, seen)
      batch.rowsRead.reset()
      job.write(topic, job.dedup(topic, unseen))
      val got = job.ledger(batch, seen)
      val reference = Intervals.collectRanges(job.processedRanges(unseen))
      seen.addAll(got)
      (entries(got), entries(reference))
    }

  private def assertParity(results: Seq[(Entries, Entries)]): Unit =
    results.foreach { case (got, reference) => assert(got == reference) }

  private def mtime(f: File) = Instant.ofEpochMilli(f.lastModified)

  for (tolerant <- Seq(true, false)) {
    val mode = if (tolerant) "tolerant" else "streaming"

    test(s"ledger ($mode): empty state; adjacent files coalesce into one range") {
      val (dir, base) = setup()
      val job = new Restructure(spark, base.copy(faultTolerance = tolerant))
      val seen = new OffsetRangeSet
      val results = ledgers(job, job.plan(topic, seen), seen)
      assertParity(results)
      val newest = Seq(fileAt(dir, "0000000018+0000000020"), fileAt(dir, "0000000021"))
        .map(mtime).max
      assert(results.map(_._1) == Seq(Seq((1, 18L, 21L, newest))))
    }

    test(s"ledger ($mode): state covering the middle of a file is subtracted") {
      val (dir, base) = setup()
      val job = new Restructure(spark, base.copy(faultTolerance = tolerant))
      val seen = new OffsetRangeSet
      seen.add(TopicPartition(topic, 1), 19L, 19L, Instant.now().plusSeconds(3600))
      val results = ledgers(job, job.plan(topic, seen), seen)
      assertParity(results)
      assert(results.map(_._1.map(e => (e._2, e._3))) == Seq(Seq((18L, 18L), (20L, 21L))))
    }
  }

  test("ledger: a file rewritten after lastProcessed is ledgered again, an older one is not") {
    val (dir, base) = setup()
    val job = new Restructure(spark, base)
    val old = fileAt(dir, "0000000018+0000000020")
    val rewritten = fileAt(dir, "0000000021")
    val lastProcessed = System.currentTimeMillis - 60000
    old.setLastModified(lastProcessed - 60000)
    rewritten.setLastModified(lastProcessed + 30000)
    val seen = new OffsetRangeSet
    seen.add(TopicPartition(topic, 1), 18L, 21L, Instant.ofEpochMilli(lastProcessed))
    // read both files: the state must drop the old one row by row
    val results = ledgers(job, job.listFiles(topic), seen)
    assertParity(results)
    assert(results.map(_._1) == Seq(Seq((1, 21L, 21L, mtime(rewritten)))))
  }

  test("ledger: a corrupt file quarantined by the write job's read stays out") {
    val (dir, base) = setup()
    val job = new Restructure(spark, base.copy(retryBackoffMs = 1L))
    // truncated mid-block with its header intact: schema grouping plans it
    // and the write job's read quarantines it
    val corrupt = fileAt(dir, "0000000021")
    writeAvro(corrupt, (0 until 200).map(i => record(t2 + i, s"S$i")))
    val ch = java.nio.channels.FileChannel.open(corrupt.toPath, StandardOpenOption.WRITE)
    try ch.truncate(corrupt.length() * 2 / 3) finally ch.close()
    val seen = new OffsetRangeSet
    val results = ledgers(job, job.plan(topic, seen), seen)
    assert(new File(corrupt.getPath + ".corrupted").exists())
    assertParity(results)
    assert(results.map(_._1.map(e => (e._2, e._3))) == Seq(Seq((18L, 20L))))
  }

  test("ledger: a file emptied after planning reports nothing") {
    val (dir, base) = setup()
    val job = new Restructure(spark, base)
    val seen = new OffsetRangeSet
    val batches = job.readBatches(topic, job.plan(topic, seen))
    java.nio.file.Files.write(fileAt(dir, "0000000021").toPath, Array.emptyByteArray)
    val results = batches.map { batch =>
      job.write(topic, batch.df)
      (entries(job.ledger(batch, seen)),
        entries(Intervals.collectRanges(job.processedRanges(batch.df))))
    }
    assertParity(results)
    assert(results.map(_._1.map(e => (e._2, e._3))) == Seq(Seq((18L, 20L))))
  }

  private val wideSchema = new Schema.Parser().parse(
    """{"type":"record","name":"Envelope","fields":[
      | {"name":"key","type":{"type":"record","name":"ObservationKey","fields":[
      |   {"name":"projectId","type":["null","string"],"default":null},
      |   {"name":"userId","type":"string"},
      |   {"name":"sourceId","type":"string"}]}},
      | {"name":"value","type":{"type":"record","name":"ServerStatus","fields":[
      |   {"name":"time","type":"double"},
      |   {"name":"serverStatus","type":"string"},
      |   {"name":"uptime","type":"long"}]}}
      |]}""".stripMargin)

  private def writeWide(file: File, times: Seq[Double]): Unit = {
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](wideSchema))
    w.create(wideSchema, file)
    times.foreach { t =>
      val key = new GenericData.Record(wideSchema.getField("key").schema())
      key.put("projectId", "STAGING_PROJECT"); key.put("userId", "user1"); key.put("sourceId", "source1")
      val value = new GenericData.Record(wideSchema.getField("value").schema())
      value.put("time", t); value.put("serverStatus", "UP"); value.put("uptime", 7L)
      val rec = new GenericData.Record(wideSchema)
      rec.put("key", key); rec.put("value", value)
      w.append(rec)
    }
    w.close()
  }

  test("ledger: two schema groups in one topic, each batch ledgers its own files") {
    val (dir, base) = setup()
    val job = new Restructure(spark, base)
    writeWide(fileAt(dir, "0000000022+0000000023"), Seq(t1, t2))
    val seen = new OffsetRangeSet
    seen.add(TopicPartition(topic, 1), 23L, 23L, Instant.now().plusSeconds(3600))
    val results = ledgers(job, job.plan(topic, seen), seen)
    assert(results.size == 2)
    assertParity(results)
    assert(results.map(_._1.map(e => (e._2, e._3))) == Seq(Seq((18L, 21L)), Seq((22L, 22L))))
  }

  test("ledger: a count that is 0, or reported twice with different values, ledgers nothing") {
    val files = Seq("a" -> 10L, "b" -> 20L, "c" -> 30L).map { case (p, start) =>
      TopicFile(topic, p, 0, start, None, 1000L, 1L)
    }
    val rowsRead = spark.sparkContext.collectionAccumulator[(String, Long)]
    Seq("a" -> 3L, "a" -> 3L, "b" -> 0L, "c" -> 2L, "c" -> 1L).foreach(rowsRead.add)
    val job = new Restructure(spark, setup()._2)
    val got = job.ledger(TopicBatch(topic, spark.emptyDataFrame, files, rowsRead), new OffsetRangeSet)
    assert(entries(got) == Seq((0, 10L, 12L, Instant.ofEpochMilli(1000L))))
  }

  /** Completed stages that decoded Avro source files — the stage reads a
    * DSv2 scan, and the Avro scan is the only one these jobs run — among
    * the jobs of one job group. */
  private final class SourceScans(group: String) extends SparkListener {
    private val stages = mutable.Set.empty[Int]
    val scans = mutable.Set.empty[Int]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
        stages ++= e.stageIds
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      if (stages(s.stageId) && s.numTasks > 0 && s.rddInfos.exists(_.name == "DataSourceRDD"))
        scans += s.stageId
    }
  }

  private def sourceScans(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"source-scans-${java.util.UUID.randomUUID()}"
    val listener = new SourceScans(group)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "source scans", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      org.apache.spark.ListenerBuses.drain(sc)
      listener.synchronized(listener.scans.size)
    } finally sc.removeSparkListener(listener)
  }

  test("run() decodes the source in one stage per batch") {
    val (_, cfg) = setup()
    val job = new Restructure(spark, cfg)
    assert(sourceScans(assert(job.run().files == 2)) == 1)
    assert(entries(job.loadState()).map(e => (e._2, e._3)) == Seq((18L, 21L)))

    // a second schema group is a second batch: one more scan, no more
    val (dir2, cfg2) = setup()
    writeWide(fileAt(dir2, "0000000022+0000000023"), Seq(t1, t2))
    val job2 = new Restructure(spark, cfg2)
    assert(sourceScans(assert(job2.run().files == 3)) == 2)
    assert(entries(job2.loadState()).map(e => (e._2, e._3)) == Seq((18L, 23L)))
  }
}
