package graft

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

import graft.restructure.{DedupConfig, Restructure, RestructureConfig, Timers}

import java.io.File
import java.nio.file.Files

/** End-to-end throughput of the restructure ETL itself (the reference's
  * actual job): generate Kafka-sink Avro files, run one full incremental
  * pass (plan -> read -> derive -> flatten -> dedup -> partitioned write ->
  * offset commit), report records/second. Generation is excluded from the
  * measurement.
  *
  * The reference processes records one-by-one on `worker.numThreads`
  * (default 1) JVM threads; this pipeline runs the same work as Spark
  * stages over file-granular tasks, so the comparison point for
  * "matches-or-beats single-node throughput" is this number on the same
  * machine.
  *
  * Usage: runMain graft.EtlBench [nRecords] [nFiles] [nPartitions] [nUsers]
  * (nUsers drives output-bin cardinality: dirs = 3 projects x nUsers x 24
  * hour bins)
  */
object EtlBench {

  private val schemaJson =
    """{"type":"record","name":"Envelope","fields":[
      | {"name":"key","type":{"type":"record","name":"ObservationKey","fields":[
      |   {"name":"projectId","type":["null","string"],"default":null},
      |   {"name":"userId","type":"string"},
      |   {"name":"sourceId","type":"string"}]}},
      | {"name":"value","type":{"type":"record","name":"Sensor","fields":[
      |   {"name":"time","type":"double"},
      |   {"name":"timeReceived","type":"double"},
      |   {"name":"light","type":"float"}]}}
      |]}""".stripMargin

  def main(args: Array[String]): Unit = {
    val nRecords = if (args.length > 0) args(0).toInt else 200000
    val nFiles = if (args.length > 1) args(1).toInt else 40
    val nPartitions = if (args.length > 2) args(2).toInt else 4
    val nUsers = if (args.length > 3) args(3).toInt else 20
    // GRAFT_ETL_DUP_EVERY=k makes every run of k consecutive records
    // byte-identical (the reference's sensor-retry shape: a device
    // re-sends the same observation, only the Kafka offset differs) —
    // the regime where keep-last dedup has real duplicate mass to
    // combine away BEFORE the exchange. Default 1 = all keys unique
    // (the combine-free worst case the headline rows measure).
    val dupEvery = sys.env.get("GRAFT_ETL_DUP_EVERY").map(_.toInt).getOrElse(1)
    require(dupEvery >= 1, "GRAFT_ETL_DUP_EVERY must be >= 1")
    val schema = new Schema.Parser().parse(schemaJson)

    val dir = Files.createTempDirectory("graft-etl-bench").toFile
    val perFile = nRecords / nFiles
    // generation writes perFile * nFiles records (integer division), NOT
    // nRecords — the input-rate fields must report what was actually fed
    // or the printed throughput overstates whenever nFiles doesn't divide
    val actualRecords = perFile.toLong * nFiles
    val t0 = 1580219940.0 // 2020-01-28T13:59 UTC
    (0 until nFiles).foreach { f =>
      val partition = f % nPartitions
      val startOffset = (f / nPartitions).toLong * perFile
      val file = new File(dir,
        f"in/sensor_topic/partition=$partition/sensor_topic+$partition+$startOffset%010d.avro")
      file.getParentFile.mkdirs()
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, file)
      (0 until perFile).foreach { i =>
        // spread over 24 hour bins, but keep every record globally UNIQUE
        // (at dupEvery = 1): a micro-offset per 86400-record wrap.
        // Without it, scale-up runs wrap the (time, light) value space
        // and files lcm(3,5,86400/gcd(perFile,86400)) apart become
        // byte-identical — at 100M records that manufactured a 46%
        // duplicate corpus and measured the dedup aggregate digesting
        // artifacts instead of the pipeline (the ScaleBlowup
        // salt-collision lesson, again). With dupEvery = k every k-run
        // shares ONE effective index, so its records are deliberately
        // byte-identical (offsets still distinct) — planted duplicate
        // mass, adjacent within a file like real sensor retries.
        val rawIdx = f.toLong * perFile + i
        val idx = rawIdx - rawIdx % dupEvery
        val k = new GenericData.Record(schema.getField("key").schema())
        // every key/value field derives from idx, never from f directly:
        // a duplicate run straddling a file boundary must still be
        // byte-identical (same projectId/sourceId as the run's first
        // record), or the planted duplicate mass silently falls below
        // the nominal (k-1)/k at file seams. At dupEvery = 1 idx/perFile
        // == f, so the headline all-unique rows are unchanged.
        k.put("projectId", s"proj${idx / perFile % 3}")
        k.put("userId", s"user${idx % nUsers}")
        k.put("sourceId", s"src${idx / perFile % 5}")
        val v = new GenericData.Record(schema.getField("value").schema())
        val t = t0 + (idx % 86400) + (idx / 86400) * 1e-6
        v.put("time", t); v.put("timeReceived", t + 1.0)
        v.put("light", (idx % perFile).toFloat)
        val r = new GenericData.Record(schema)
        r.put("key", k); r.put("value", v)
        w.append(r)
      }
      w.close()
    }

    val spark = Sessions.build("graft-etl-bench")
    val cfg = RestructureConfig(
      inputDir = s"$dir/in",
      outputDir = s"$dir/out",
      stateFile = s"$dir/state/offsets.json",
      minimumFileAgeMs = 0L,
      faultTolerance = sys.env.get("GRAFT_ETL_TOLERANT").forall(_ == "1"),
      dedupDefault = DedupConfig(enable = true),
      // GRAFT_ETL_MAX_PER_FILE caps records per output file (file rolling
      // inside hot bins — the production knob for splittable output)
      maxRecordsPerFile = sys.env.get("GRAFT_ETL_MAX_PER_FILE").map(_.toLong),
      // task-level memory/spill stats ride the measured pass, attributed to
      // its phase labels — the 10x/scale rehearsal question is whether the
      // dynamic-partition write (one file per project/user/topic/hour bin)
      // stays in memory, not just how fast it goes
      enableTimers = true)
    val job = new Restructure(spark, cfg)
    val start = System.nanoTime()
    val result = job.run()
    val sec = (System.nanoTime() - start) / 1e9
    // the task metrics of every label whose name starts with `prefix`, as
    // the JSON fields of a result line
    def taskFields(prefix: String): String = {
      Timers.settle()
      val es = Timers.timings.collect { case (l, e) if l.startsWith(prefix) => e }
      s""""tasks":${es.map(_.tasks).sum},"memSpilledMB":${es.map(_.memSpilledBytes).sum / 1048576},""" +
        s""""diskSpilledMB":${es.map(_.diskSpilledBytes).sum / 1048576},""" +
        s""""peakTaskMemMB":${es.map(_.peakTaskMemBytes).maxOption.getOrElse(0L) / 1048576}"""
    }
    // result.records counts WRITTEN (post-dedup) records; with planted
    // duplicate mass (dupEvery > 1) the input rate is the throughput
    // number comparable across regimes, so both are printed
    println(
      s"""{"metric":"etl_records_per_sec","value":${(result.records / sec).toLong},""" +
        s""""inputRecords":$actualRecords,"inputRecPerSec":${(actualRecords / sec).toLong},""" +
        s""""records":${result.records},"files":${result.files},"sec":$sec,""" +
        taskFields("restructure.") + "}")

    // GRAFT_ETL_CLEAN=1 appends a cleaner leg over the freshly
    // restructured topic — the scale question the write path's rows
    // don't answer: the cleaner reads the WHOLE output back, distincts
    // its (project, user, bin, time) tuples (~= record count, since the
    // generator's times are near-unique per user), and anti-joins every
    // candidate file's records against them (Cleaner.unmatchedCounts).
    // One output bin directory is deleted FIRST, so the files whose
    // records landed there must fail verification, SURVIVE, and have
    // their offset ranges removed for reprocessing, while the rest
    // verify and are deleted — both paths exercised at the full record
    // count, with the same task metrics as the headline row.
    if (sys.env.get("GRAFT_ETL_CLEAN").contains("1")) {
      def ls(f: File): Array[File] = {
        val kids = f.listFiles()
        require(kids != null, s"not a listable directory: $f")
        kids
      }
      def firstDir(f: File, prefix: String): File = {
        val dirs = ls(f).filter(d => d.isDirectory && d.getName.startsWith(prefix))
        require(dirs.nonEmpty, s"no '$prefix*' directory under $f")
        dirs.minBy(_.getName)
      }
      def rmRf(f: File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmRf)
        f.delete()
      }
      val outTopic = new File(dir, "out/sensor_topic")
      val planted =
        firstDir(firstDir(firstDir(outTopic, "_project="), "_user="), "_bin=")
      rmRf(planted)
      val inTopic = new File(dir, "in/sensor_topic")
      def inputFiles() =
        ls(inTopic).flatMap(ls).count(_.getName.endsWith(".avro"))
      val before = inputFiles()
      val c0 = System.nanoTime()
      // negative age: every file is old enough, so candidacy is decided
      // by state coverage plus the end-less-name P9 guard (this
      // generator's file names carry no end offset, so each partition's
      // newest file is excluded from candidacy outright — the state
      // check alone would degenerate to [start, start+1] and admit it)
      val cleaner = new graft.restructure.Cleaner(spark, cfg, ageMs = -60000L)
      val (cleanDeleted, cleanReprocess) = Timers.time(spark, "cleaner")(cleaner.run())
      val cleanSec = (System.nanoTime() - c0) / 1e9
      val after = inputFiles()
      println(
        s"""{"metric":"etl_cleaner_sec","value":$cleanSec,""" +
          s""""deleted":${cleanDeleted.size},"reprocess":${cleanReprocess.size},""" +
          s""""plantedBin":"${planted.getName}","filesBefore":$before,"filesAfter":$after,""" +
          taskFields("cleaner") + "}")
      require(cleanDeleted.nonEmpty, "cleaner verified nothing for deletion")
      require(cleanReprocess.nonEmpty,
        "planted missing bin produced no surviving reprocess files")
      require(after == before - cleanDeleted.size,
        s"deleted-path count ${cleanDeleted.size} != disk delta ${before - after}")
      // offsets-state convergence: exactly the survivors' ranges were
      // removed, so the next planning pass re-lists them and nothing else
      val replanned = job.plan("sensor_topic", job.loadState()).map(_.path).toSet
      require(replanned == cleanReprocess.toSet,
        s"replanned ${replanned.size} files != reprocess ${cleanReprocess.size}")
      // the phase breakdown below renames the input tree into a second
      // dataset — after the cleaner deleted most of it, those rows would
      // silently measure the ~10% remnant under the full-dataset label
      spark.stop(); return
    }

    // phase breakdown on a SECOND identical dataset (fresh topic name so
    // state/output are cold), to attribute the pipeline's cost.
    // GRAFT_ETL_SKIP_PHASES=1 stops after the headline row — for A/B
    // config sweeps (e.g. maxRecordsPerFile) where only it matters.
    if (sys.env.get("GRAFT_ETL_SKIP_PHASES").contains("1")) {
      spark.stop(); return
    }
    val dir2 = new File(dir, "in2")
    dir2.mkdirs()
    require(new File(dir, "in/sensor_topic").renameTo(new File(dir2, "sensor_topic")),
      "rename for phase breakdown failed")
    val cfg2 = cfg.copy(inputDir = dir2.toString,
      outputDir = s"$dir/out2", stateFile = s"$dir/state2/offsets.json")
    val job2 = new Restructure(spark, cfg2)
    def phase[T](name: String)(f: => T): T = {
      val p0 = System.nanoTime()
      val r = f
      println(f"""{"phase":"$name","sec":${(System.nanoTime() - p0) / 1e9}%.2f}""")
      r
    }
    val state = job2.loadState()
    val files = phase("plan")(job2.plan("sensor_topic", state))
    val batches = phase("readTopic (lazy)")(job2.readBatches("sensor_topic", files))
    batches.foreach { batch =>
      val unseen = job2.filterSeen(batch.df, state)
      val deduped = job2.dedup("sensor_topic", unseen)
      phase("write (read+derive+dedup+write)")(job2.write("sensor_topic", deduped))
      // the offset ledger run() commits: driver arithmetic over the row
      // counts the write job's scan reported
      phase("ledger (driver-side, from the write's read)")(job2.ledger(batch, state))
      phase("read+derive only (count)")(unseen.count())
      val noDedup = new Restructure(spark,
        cfg2.copy(outputDir = s"$dir/out3", dedupDefault = DedupConfig()))
      phase("write without dedup")(noDedup.write("sensor_topic", unseen))
      val plain = new Restructure(spark,
        cfg2.copy(outputDir = s"$dir/out4", compression = None, dedupDefault = DedupConfig()))
      phase("write without dedup or gzip")(plain.write("sensor_topic", unseen))
    }
    spark.stop()
  }
}
