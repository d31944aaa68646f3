package graft.avro

import graft.SparkSpec
import graft.restructure.{DedupConfig, Restructure, RestructureConfig, RestructureFixture}
import graft.state.TopicPartition
import org.apache.hadoop.fs.Path

import java.io.File
import java.nio.file.{Files, StandardOpenOption}

/** Storage fault tolerance (source/S3SourceStorage.kt:110-136,
  * worker/FileCache.kt:172-201): bounded retries, corrupt-file quarantine,
  * and the end-to-end guarantee that a truncated Avro container neither
  * fails the job nor pollutes the committed offset state.
  */
class FaultToleranceSpec extends SparkSpec {

  test("faultTolerant retries transient failures, rethrows FileNotFound immediately") {
    var calls = 0
    val out = AvroSource.faultTolerant(backoffMs = 1L) { i =>
      calls += 1
      if (i < 2) throw new RuntimeException("transient")
      "ok"
    }
    assert(out == "ok" && calls == 3)

    var fnfCalls = 0
    intercept[java.io.FileNotFoundException] {
      AvroSource.faultTolerant(backoffMs = 1L) { _ =>
        fnfCalls += 1
        throw new java.io.FileNotFoundException("gone")
      }
    }
    assert(fnfCalls == 1) // not a transient fault: no retries

    var always = 0
    intercept[RuntimeException] {
      AvroSource.faultTolerant(backoffMs = 1L) { _ =>
        always += 1; throw new RuntimeException("persistent")
      }
    }
    assert(always == 3)
  }

  test("deterministic corruption short-circuits retries; transient errors are not quarantined") {
    // corruption gives up immediately — the bytes will not get better
    var corrupt = 0
    intercept[AvroSource.CorruptContainerException] {
      AvroSource.faultTolerant(backoffMs = 1L) { _ =>
        corrupt += 1
        throw new AvroSource.CorruptContainerException("truncated")
      }
    }
    assert(corrupt == 1)

    // a healthy file behind a flaky store: retries exhaust and the error
    // PROPAGATES from read (task failure), rather than quarantining — the
    // file must survive untouched for the next pass
    val dir = Files.createTempDirectory("graft-transient").toFile
    val f = new File(dir, "t+0+0000000000+0000000001.avro")
    RestructureFixture.writeAvro(f, Seq(RestructureFixture.record(1.0, "UP")))
    val schema = AvroSource.writerSchema(() => new java.io.FileInputStream(f))
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyOpenFileSystem].getName)
    intercept[org.apache.spark.SparkException] {
      AvroSource.read(spark, Seq(s"flaky://${f.getAbsolutePath}"), schema,
        tolerant = true, backoffMs = 1L).count()
    }
    assert(f.exists()) // untouched
    assert(!new File(dir, f.getName + ".corrupted").exists()) // NOT quarantined
  }

  test("AvroRuntimeException is retried, not treated as corruption (it wraps transient IO)") {
    // DataFileStream rethrows stream IOExceptions as AvroRuntimeException:
    // short-circuiting it would quarantine healthy files on blips
    var calls = 0
    val out = AvroSource.faultTolerant(backoffMs = 1L) { i =>
      calls += 1
      if (i < 2) throw new org.apache.avro.AvroRuntimeException(
        new java.io.IOException("connection reset"))
      "ok"
    }
    assert(out == "ok" && calls == 3)
  }

  test("validator: short STREAM is transient IOException; short FILE is corruption") {
    val dir = Files.createTempDirectory("graft-validate").toFile
    val f = new File(dir, "t+0+0000000000+0000000099.avro")
    RestructureFixture.writeAvro(f,
      (0 until 100).map(i => RestructureFixture.record(1.0 + i, s"S$i")))
    val full = f.length()

    // the stream dies 10 bytes early but the FILE is known to be longer:
    // transient — must throw, must NOT return a (cacheable) false
    intercept[java.io.IOException] {
      AvroSource.validateContainer(
        () => new java.io.ByteArrayInputStream(
          Files.readAllBytes(f.toPath).dropRight(10)),
        expectedLen = full)
    }

    // the same bytes when the file really IS that short: deterministic
    assert(!AvroSource.validateContainer(
      () => new java.io.ByteArrayInputStream(
        Files.readAllBytes(f.toPath).dropRight(10)),
      expectedLen = full - 10))

    // intact container at its real length: valid
    assert(AvroSource.validateContainer(
      () => new java.io.FileInputStream(f), expectedLen = full))
  }

  test("a header whose metadata count no array can hold is corruption: validator false, header scan quarantines") {
    val dir = Files.createTempDirectory("graft-validate-count").toFile
    val good = new File(dir, "good.avro")
    RestructureFixture.writeAvro(good, Seq(RestructureFixture.record(1.0, "S")))
    val bytes = Files.readAllBytes(good.toPath)
    // the metadata map's block count (byte 4, after the magic) replaced by
    // 2^40, zigzag varint-encoded: Avro refuses it before reading an entry
    val out = new java.io.ByteArrayOutputStream()
    val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
    enc.writeLong(1L << 40); enc.flush()
    val damaged = bytes.take(4) ++ out.toByteArray ++ bytes.drop(5)
    assert(!AvroSource.validateContainer(
      () => new java.io.ByteArrayInputStream(damaged), damaged.length.toLong))
    val f = new File(dir, "t+0+0000000000.avro")
    Files.write(f.toPath, damaged)
    assert(AvroSource.schemaGroups(spark, Seq(f.toString), tolerant = true, backoffMs = 1L).isEmpty)
    assert(!f.exists() && new File(dir, "t+0+0000000000.avro.corrupted").exists())
  }

  test("readFullyVerified: exact length round-trips; a short or long stream is a retried IOException") {
    val dir = Files.createTempDirectory("graft-readfully").toFile
    val f = new File(dir, "t+0+0000000000+0000000099.avro")
    RestructureFixture.writeAvro(f,
      (0 until 100).map(i => RestructureFixture.record(1.0 + i, s"S$i")))
    val p = new Path(f.getAbsolutePath)
    def misstated(delta: Long) = {
      val fs = new MisstatedLengthFileSystem(delta)
      fs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
      fs
    }
    assert(AvroSource.readFullyVerified(misstated(0L), p).sameElements(Files.readAllBytes(f.toPath)))
    // the stat says 10 bytes more than the stream delivers (it ends short),
    // then 10 bytes fewer (it runs past): both are transient, retried
    for ((delta, words) <- Seq(10L -> "short of", -10L -> "more than")) {
      var calls = 0
      val e = intercept[java.io.IOException] {
        AvroSource.faultTolerant(backoffMs = 1L) { _ =>
          calls += 1
          AvroSource.readFullyVerified(misstated(delta), p)
        }
      }
      assert(e.getMessage.contains(words), e.getMessage)
      assert(calls == 3)
    }
    // a stat past what one array holds is neither: it fails on the first try
    var calls = 0
    intercept[AvroSource.FileTooLargeException] {
      AvroSource.faultTolerant(backoffMs = 1L) { _ =>
        calls += 1
        AvroSource.readFullyVerified(misstated(Int.MaxValue.toLong), p)
      }
    }
    assert(calls == 1)
  }

  test("quarantine picks the first free .corrupted suffix") {
    val dir = Files.createTempDirectory("graft-quarantine").toFile
    val f = new File(dir, "t+0+0000000000.avro")
    Files.write(f.toPath, Array[Byte](1, 2, 3))
    Files.write(new File(dir, f.getName + ".corrupted").toPath, Array[Byte](9))
    val fs = new Path(dir.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = AvroSource.quarantine(fs, new Path(f.toString))
    assert(target.exists(_.getName == f.getName + ".corrupted-0"))
    assert(!f.exists())
  }

  test("truncated avro file: job completes, file quarantined, range excluded from state") {
    val (dir, base) = RestructureFixture.setup()
    val cfg = base.copy(retryBackoffMs = 1L, dedupDefault = DedupConfig(enable = false))
    // corrupt the SECOND file (offset 21) by truncating MID-BLOCK (a cut
    // at the trailing sync marker reads as a clean EOF — avro only fails
    // when a datum itself is clipped); the header stays intact so schema
    // grouping still sees it
    val corrupt = new File(dir,
      "in/application_server_status/partition=1/application_server_status+1+0000000021.avro")
    RestructureFixture.writeAvro(corrupt,
      (0 until 200).map(i => RestructureFixture.record(RestructureFixture.t2 + i, s"S$i")))
    val ch = java.nio.channels.FileChannel.open(corrupt.toPath, StandardOpenOption.WRITE)
    try ch.truncate(corrupt.length() * 2 / 3) finally ch.close()

    val job = new Restructure(spark, cfg)
    val r = job.run() // must not throw
    assert(r.files == 2) // both were planned...
    assert(r.records == 3) // ...but only the healthy file's records landed

    // corrupt file set aside, original gone
    assert(!corrupt.exists())
    assert(new File(corrupt.getParent, corrupt.getName + ".corrupted").exists())

    // state covers ONLY the healthy file's range: a repaired re-upload of
    // offset 21 will be reprocessed
    val state = job.loadState()
    assert(state.entries.map { case (tp, r) => (tp.topic, tp.partition, r.from, r.to) } ==
      Seq(("application_server_status", 1, 18L, 20L)))
    assert(!state.contains(TopicPartition("application_server_status", 1), 21L,
      java.time.Instant.EPOCH))

    // the healthy file's 3 records (dedup off) are all in the output
    assert(job.readOutput("application_server_status", dedup = false).count() == 3)
  }

  test("stream: a truncated file is quarantined, the query completes, the healthy file's rows land") {
    val (dir, base) = RestructureFixture.setup()
    val cfg = base.copy(dedupDefault = DedupConfig(enable = false))
    val topic = "application_server_status"
    // the same mid-block truncation of the offset-21 file as the batch case
    val corrupt = new File(dir, s"in/$topic/partition=1/$topic+1+0000000021.avro")
    RestructureFixture.writeAvro(corrupt,
      (0 until 200).map(i => RestructureFixture.record(RestructureFixture.t2 + i, s"S$i")))
    val ch = java.nio.channels.FileChannel.open(corrupt.toPath, StandardOpenOption.WRITE)
    try ch.truncate(corrupt.length() * 2 / 3) finally ch.close()

    val q = graft.streaming.Streaming.restructureStream(spark, cfg, topic, new File(dir, "cp").toString)
    q.awaitTermination() // must not throw
    assert(q.exception.isEmpty)
    assert(!corrupt.exists())
    assert(new File(corrupt.getParent, corrupt.getName + ".corrupted").exists())
    // the healthy file's 3 records (dedup off) are all in the output
    assert(new Restructure(spark, cfg).readOutput(topic, dedup = false).count() == 3)
  }

  test("stream: a first file with a damaged header is quarantined and the healthy file streams") {
    val (dir, base) = RestructureFixture.setup()
    val cfg = base.copy(dedupDefault = DedupConfig(enable = false))
    val topic = "application_server_status"
    // the file the stream would infer its schema from loses its magic
    val damaged = new File(dir, s"in/$topic/partition=1/$topic+1+0000000018+0000000020.avro")
    val bytes = Files.readAllBytes(damaged.toPath)
    bytes(0) = 'X'.toByte
    Files.write(damaged.toPath, bytes)

    assert(graft.Main.runStream(spark, cfg) == 1)
    assert(!damaged.exists())
    assert(new File(damaged.getParent, damaged.getName + ".corrupted").exists())
    assert(new Restructure(spark, cfg).readOutput(topic, dedup = false).count() == 1)
  }
}

/** Test-only filesystem whose open() always throws a transient-looking
  * IOException; everything else (status, rename) delegates to local. */
class FlakyOpenFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "flaky"
  override def getUri: java.net.URI = java.net.URI.create("flaky:///")
  override def open(p: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream =
    throw new java.io.IOException("connection reset by peer (simulated)")
}

/** Test-only local filesystem whose statuses misstate every file's length
  * by `delta` bytes, so a stream read against the stat ends short of it
  * (delta > 0) or runs past it (delta < 0). */
class MisstatedLengthFileSystem(delta: Long) extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getFileStatus(p: Path): org.apache.hadoop.fs.FileStatus = {
    val st = super.getFileStatus(p)
    new org.apache.hadoop.fs.FileStatus(st.getLen + delta, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getPath)
  }
}
