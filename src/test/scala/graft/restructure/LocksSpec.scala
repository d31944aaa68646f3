package graft.restructure

import graft.SparkSpec
import graft.state.{OffsetRangeSet, TopicPartition}
import org.apache.hadoop.fs.Path

import java.io.File
import java.nio.file.Files
import java.time.Instant
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Multi-instance safety (SURVEY §1.4,
  * accounting/RedisRemoteLockManager.kt:18-44): per-topic locks, atomic
  * merge-commits of the shared state file, and the legacy CSV state import.
  */
class LocksSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  test("lock excludes a second holder until released; stale locks break") {
    val dir = new Path(Files.createTempDirectory("graft-locks").toString)
    val a = new FileRemoteLockManager(conf, dir)
    val b = new FileRemoteLockManager(conf, dir)
    val held = a.acquireLock("t1")
    assert(held.isDefined)
    assert(b.acquireLock("t1").isEmpty)
    held.get.close()
    val now = b.acquireLock("t1")
    assert(now.isDefined)
    now.get.close()

    // stale: a lock whose holder crashed (ttl 0 -> immediately stale)
    val crashed = new FileRemoteLockManager(conf, dir)
    assert(crashed.acquireLock("t2").isDefined) // never closed
    val breaker = new FileRemoteLockManager(conf, dir, ttlMs = 0L)
    assert(breaker.acquireLock("t2").isDefined)
  }

  test("exactly one of N racing instances wins a lock") {
    val dir = new Path(Files.createTempDirectory("graft-locks-race").toString)
    val managers = (1 to 16).map(_ => new FileRemoteLockManager(conf, dir))
    val wins = Await.result(
      Future.sequence(managers.map(m => Future(m.acquireLock("race").isDefined))),
      30.seconds)
    assert(wins.count(identity) == 1)
  }

  test("withLockRetrying waits out a short-lived holder") {
    val dir = new Path(Files.createTempDirectory("graft-locks-retry").toString)
    val a = new FileRemoteLockManager(conf, dir)
    val b = new FileRemoteLockManager(conf, dir)
    val held = a.acquireLock("s").get
    val f = Future(b.withLockRetrying("s", maxWaitMs = 10000L)(42))
    Thread.sleep(200)
    held.close()
    assert(Await.result(f, 15.seconds) == 42)
  }

  /** A manager whose first owner IO of kind `step` ("write" or "read")
    * fails. */
  private def failingOnce(dir: Path, step: String): FileRemoteLockManager = {
    val m = new FileRemoteLockManager(conf, dir)
    var armed = true
    m.beforeOwnerIo = s => if (s == step && armed) {
      armed = false
      throw new java.io.IOException(s"injected owner $s failure")
    }
    m
  }

  private def lockFiles(dir: Path): Seq[String] =
    new File(dir.toUri.getPath).list().toSeq

  test("a failed owner write fails the acquire and leaves no lock file") {
    val dir = new Path(Files.createTempDirectory("graft-locks-write").toString)
    intercept[java.io.IOException](failingOnce(dir, "write").acquireLock("w"))
    assert(lockFiles(dir).isEmpty)
    val held = new FileRemoteLockManager(conf, dir).acquireLock("w")
    assert(held.isDefined)
    held.get.close()
  }

  test("a failed owner read on release still removes our own lock") {
    val dir = new Path(Files.createTempDirectory("graft-locks-read").toString)
    failingOnce(dir, "read").acquireLock("r").get.close()
    assert(lockFiles(dir).isEmpty)
    assert(new FileRemoteLockManager(conf, dir).acquireLock("r").isDefined)
  }

  test("two concurrent runs over the same topics: exactly-once output, merged state") {
    // same fixture as RestructureSpec: 2 avro files, 4 records, 1 duplicate
    val (dir, base) = RestructureFixture.setup()
    val cfg = base.copy(lockDir = Some(new File(dir, "locks").toString))
    val jobs = Seq(new Restructure(spark, cfg), new Restructure(spark, cfg))
    val results = Await.result(
      Future.sequence(jobs.map(j => Future(j.run()))), 120.seconds)

    // both completed; between them each file was processed exactly once
    assert(results.map(_.files).sum == 2)
    val out = jobs.head.readOutput("application_server_status", dedup = false)
    assert(out.count() == 3) // no duplicated part files from double-processing

    val state = jobs.head.loadState()
    assert(state.entries.map { case (tp, r) => (tp.topic, tp.partition, r.from, r.to) } ==
      Seq(("application_server_status", 1, 18L, 21L)))
  }

  test("concurrent merge-commits on disjoint topics lose neither update") {
    val dir = Files.createTempDirectory("graft-commit").toFile
    val cfg = RestructureConfig(
      inputDir = new File(dir, "in").toString,
      outputDir = new File(dir, "out").toString,
      stateFile = new File(dir, "state/offsets.json").toString,
      lockDir = Some(new File(dir, "locks").toString))
    new File(dir, "in").mkdirs()
    val job = new Restructure(spark, cfg)
    val mgr = new FileRemoteLockManager(conf, new Path(cfg.lockDir.get))
    // simulate two instances committing different topics' ranges at once
    val commits = (0 until 8).map { i =>
      Future {
        mgr.withLockRetrying("__state") {
          val disk = job.loadState()
          disk.add(TopicPartition(s"topic$i", 0), 0L, 10L + i, Instant.EPOCH)
          job.saveState(disk)
        }
      }
    }
    Await.result(Future.sequence(commits), 60.seconds)
    val finalState = job.loadState()
    assert(finalState.entries.size == 8) // every instance's ranges survived
  }

  test("legacy reference CSV offsets file imports transparently via loadState") {
    val dir = Files.createTempDirectory("graft-legacy").toFile
    val stateFile = new File(dir, "offsets.csv")
    // the reference's file shape, including a quoted topic and a line
    // without the lastModified column (OffsetFilePersistence.kt:62-121)
    Files.write(stateFile.toPath,
      ("offsetFrom,offsetTo,partition,topic\n" +
        "18,20,1,\"application_server_status\",2020-01-28T13:59:00Z\n" +
        "21,21,1,application_server_status\n").getBytes("UTF-8"))
    val cfg = RestructureConfig(
      inputDir = s"$dir/in", outputDir = s"$dir/out",
      stateFile = stateFile.toString)
    new File(dir, "in").mkdirs()
    val job = new Restructure(spark, cfg)
    val state = job.loadState()
    assert(state.contains(TopicPartition("application_server_status", 1), 18L, 21L,
      Instant.EPOCH))
    // re-save writes JSON; loadState reads it back identically
    job.saveState(state)
    assert(job.loadState().entries == state.entries)
  }
}
