package graft

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.restructure.{Cleaner, DedupConfig, Restructure, RestructureConfig, Service}

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** End-to-end service-mode soak (SURVEY §2.8 W2/W4/W5 + S10/S11 as ONE
  * integration seam) — the reference's FULL two-job deployment shape
  * (Application.kt:100-119: one scheduler polling restructure AND
  * cleaner, worker/Job.kt:36-41): a polling
  * [[graft.restructure.Service]] runs repeated restructure passes while
  * the input tree changes under it — new files arrive between ticks,
  * one file arrives LATE (offsets below a partition's already-processed
  * range), and one already-processed file is REWRITTEN in place with a
  * newer mtime and an appended record (the reference's resent-file
  * shape, accounting/OffsetRangeSet.kt mtime semantics). CLEANER ticks
  * interleave with restructure ticks
  * (cleaner/SourceDataCleaner.kt:33-108 under the same scheduler):
  * fully-extracted files are deleted mid-soak while a new wave is still
  * arriving, and a planted output miss (one deleted bin directory)
  * forces the affected files' ranges OUT of the offsets state
  * (readmission) so later restructure ticks REPROCESS them — after
  * which the next cleaner verification passes and deletes them too.
  * The soak then proves the whole composition converged to exactly the
  * state a ONE-SHOT run over the full (pre-deletion) tree produces:
  *
  *  - output content: the deduplicated output of the soak equals the
  *    one-shot run's over a mirror of every file ever written,
  *    fingerprinted order-independently (count + xor + decimal sum of
  *    whole-row hashes) — exactly-once across ticks, late arrival,
  *    mtime reprocessing, deletion, readmission, and reprocessing;
  *  - row count: 6 * perFile + 1 distinct records (the +1 is the
  *    appended rewrite record) — nothing lost (deletion only ever
  *    removed VERIFIED files; the planted miss was re-emitted), nothing
  *    manufactured;
  *  - deletions are exact: the four deletable files (each partition's
  *    newest end-less file is P9-protected) and ONLY those are deleted;
  *    the two files whose records hit the planted miss and ONLY those
  *    are readmitted first;
  *  - offsets state: a post-soak plan() lists NOTHING, and the soak's
  *    interval count equals the one-shot run's (deletion keeps ranges
  *    ledgered; readmission's removal is fully healed by reprocessing);
  *  - the service loops themselves: >= 8 restructure ticks, >= 2
  *    cleaner ticks, no captured error.
  *
  * TWO schedulings prove the same equality set: [[run]] phases the jobs
  * (restructure-only waves, then a restart with the cleaner — plant and
  * restart are deterministic by construction) and [[runFromStartup]]
  * schedules BOTH jobs from tick 0 like the reference's deployment, with
  * the planted miss arriving mid-wave while both jobs are live. Shared by
  * the [[main]] (a bigger corpus for the BENCHSCALE row) and
  * ServiceSoakSpec (small corpus, same assertions — every `require`
  * here IS the spec body).
  */
object ServiceSoak {

  final case class Report(
      ticks: Long,
      cleanerTicks: Long,
      soakRows: Long,
      deletedFiles: Int,
      readmittedFiles: Int,
      planAfter: Int,
      stateRanges: Int,
      oneShotStateRanges: Int,
      wallSec: Double)

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

  private val T0 = 1580219940.0 // 2020-01-28T13:59 UTC

  /** Order-independent content fingerprint over every column (sorted by
    * name so both runs hash identical layouts): count, bit_xor and
    * decimal sum of whole-row hashes — the sum keeps the fingerprint
    * multiplicity-sensitive where xor cancels even counts. */
  private[graft] def fingerprint(df: DataFrame): (Long, Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val h = xxhash64(cols: _*)
    val r = df.agg(
      count(lit(1)),
      coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(h.cast("decimal(38,0)")), lit(0L).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getLong(1), r.getDecimal(2))
  }

  /** Corpus builder shared by both scheduling modes: deterministic avro
    * files whose record content is a pure function of (partition,
    * offset) — a rewritten file reproduces its original records
    * byte-identically and rows never collide across partitions (the
    * +0.25s fraction). Files are staged, MIRRORED into the `in-full`
    * comparator tree (the cleaner deletes from the live tree, so the
    * one-shot run needs every file ever written), then MOVED atomically
    * into the live topic tree — the polling service must never list a
    * half-written file (minimumFileAgeMs is 0 here; production would
    * also age-gate). */
  private final class Corpus(dir: File) {
    val schema: Schema = new Schema.Parser().parse(schemaJson)
    private val staging = new File(dir, "stage")
    staging.mkdirs()

    def record(partition: Int, offset: Long): GenericRecord = {
      val k = new GenericData.Record(schema.getField("key").schema())
      k.put("projectId", "proj0")
      k.put("userId", s"user${offset % 3}")
      k.put("sourceId", s"src$partition")
      val v = new GenericData.Record(schema.getField("value").schema())
      val t = T0 + (offset % 86400) + partition * 0.25
      v.put("time", t); v.put("timeReceived", t + 1.0)
      v.put("light", (offset % 1000).toFloat)
      val r = new GenericData.Record(schema)
      r.put("key", k); r.put("value", v)
      r
    }

    def writeFile(partition: Int, startOffset: Long, n: Int): File = {
      val name = f"soak_topic+$partition+$startOffset%010d.avro"
      val tmp = new File(staging, name)
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, tmp)
      (0 until n).foreach(i => w.append(record(partition, startOffset + i)))
      w.close()
      val full = new File(dir, s"in-full/soak_topic/partition=$partition/$name")
      full.getParentFile.mkdirs()
      java.nio.file.Files.copy(tmp.toPath, full.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val dest = new File(dir, s"in/soak_topic/partition=$partition/$name")
      dest.getParentFile.mkdirs()
      // rename OVER the destination (POSIX rename(2) replaces atomically):
      // a delete-then-rename pair would open a window with the path absent
      // while service ticks list and read the tree concurrently — wave C's
      // rewrite would intermittently fail a pass on a vanished file
      java.nio.file.Files.move(tmp.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dest
    }
  }

  private def cfgFor(dir: File): RestructureConfig = RestructureConfig(
    inputDir = s"$dir/in",
    outputDir = s"$dir/out",
    stateFile = s"$dir/state/offsets.json",
    minimumFileAgeMs = 0L,
    dedupDefault = DedupConfig(enable = true))

  /** Shared with [[SoakBench]] (whose 10M-scale passes need the longer
    * deadline) — both soaks poll the same way: wait for `k` MORE completed
    * passes, failing fast on a captured service error. */
  private[graft] def awaitPasses(svc: Service, counter: AtomicLong, k: Long,
      deadlineMs: Long = 600000L): Unit = {
    val target = counter.get() + k
    val deadline = System.currentTimeMillis() + deadlineMs
    while (counter.get() < target) {
      require(svc.lastError.isEmpty, s"service pass failed: ${svc.lastError.get}")
      require(System.currentTimeMillis() < deadline,
        s"soak stalled waiting for service pass $target")
      Thread.sleep(25L)
    }
  }

  /** Give a rewritten file an mtime strictly newer than `origMtime` (2 s
    * past it, so coarse-grained filesystem clocks still see it newer), then
    * wait until the clock has passed that mtime. The planner skips files
    * whose mtime is in the future, so without the wait a soak whose waves
    * run faster than 2 s would move on before the rewrite can be planned,
    * and the rewrite would be reprocessed after the planted miss instead
    * of in its own wave. */
  private def touchNewer(f: File, origMtime: Long): Unit = {
    val mtime = math.max(System.currentTimeMillis(), origMtime + 2000L)
    require(f.setLastModified(mtime), "mtime rewrite failed")
    while (System.currentTimeMillis() <= mtime) Thread.sleep(25L)
  }

  private[graft] def rmRf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rmRf)
    require(f.delete(), s"could not delete $f")
  }

  /** Plant the output miss: delete the EARLIEST user0 bin (T0's hour —
    * only the two head files have records there). */
  private def plantMiss(dir: File): Unit = {
    val user0 = new File(dir, "out/soak_topic/_project=proj0/_user=user0")
    val bins = Option(user0.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith("_bin="))
    require(bins.nonEmpty, s"no output bins under $user0")
    rmRf(bins.minBy(_.getName))
  }

  /** The wave files both scheduling modes produce (phase structure is the
    * scheduler's; the corpus is identical). */
  private final case class Waves(
      waveA0: File, p1High: File, fB: File, p1Late: File, fD: File, fE: File)

  /** Shared convergence tail: exact delete/readmit sets, P9 survival, and
    * equality with a ONE-SHOT run over the full mirrored tree. */
  private def verifyConverged(
      spark: SparkSession, dir: File, cfg: RestructureConfig, job: Restructure,
      perFile: Int, waves: Waves, ticks: Long, cleanerTicks: Long,
      deletedPaths: java.util.Set[String], readmittedPaths: java.util.Set[String],
      t0: Long): Report = {
    require(ticks >= 8, s"expected >= 8 completed restructure ticks, got $ticks")
    require(cleanerTicks >= 2, s"expected >= 2 completed cleaner ticks, got $cleanerTicks")
    // deletions and readmissions are EXACT: the P9-protected newest files
    // survive, the planted miss readmitted precisely the two head files
    def names(s: java.util.Set[String]): Set[String] =
      { import scala.jdk.CollectionConverters._
        s.asScala.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet }
    val expectDeleted = Set(waves.waveA0, waves.fB, waves.fD, waves.p1Late).map(_.getName)
    val expectReadmitted = Set(waves.waveA0, waves.p1Late).map(_.getName)
    require(names(deletedPaths) == expectDeleted,
      s"deleted ${names(deletedPaths)} != expected $expectDeleted")
    require(names(readmittedPaths) == expectReadmitted,
      s"readmitted ${names(readmittedPaths)} != expected $expectReadmitted")
    require(waves.fE.exists() && waves.p1High.exists(),
      "a P9-protected newest file was deleted")

    // one-shot comparator: a fresh job over the FULL mirrored tree
    // (every file ever written — the live tree lost its verified files
    // to the cleaner), fresh output + state
    val oneCfg = cfg.copy(inputDir = s"$dir/in-full",
      outputDir = s"$dir/out-oneshot",
      stateFile = s"$dir/state-oneshot/offsets.json")
    val oneJob = new Restructure(spark, oneCfg)
    oneJob.run()

    val soakFp = fingerprint(job.readOutput("soak_topic"))
    val oneFp = fingerprint(oneJob.readOutput("soak_topic"))
    require(soakFp == oneFp,
      s"soak output != one-shot output over the full tree: $soakFp vs $oneFp")
    val expectRows = 6L * perFile + 1L
    require(soakFp._1 == expectRows,
      s"expected $expectRows distinct rows, got ${soakFp._1}")

    // offsets-state convergence: nothing left to plan, and the interval
    // structure equals the one-shot run's (merged, bounded; deletion
    // keeps ranges ledgered, readmission healed by reprocessing)
    val state = job.loadState()
    val planAfter = job.plan("soak_topic", state).size
    require(planAfter == 0, s"post-soak plan still lists $planAfter files")
    val soakRanges = state.entries.size
    val oneRanges = oneJob.loadState().entries.size
    require(soakRanges == oneRanges,
      s"soak state has $soakRanges ranges, one-shot $oneRanges")

    Report(ticks, cleanerTicks, soakFp._1, deletedPaths.size(),
      readmittedPaths.size(), planAfter, soakRanges, oneRanges,
      (System.nanoTime() - t0) / 1e9)
  }

  // lower bound 60: waves B-E and the appended rewrite record must land
  // OUTSIDE T0's hour bin, so the planted miss (the earliest bin) hits
  // exactly the two head files and nothing else. Upper bound 21350:
  // wave E tops out at offset 4*perFile + 1000, and past 86400 the
  // `offset % 86400` time derivation wraps onto the low offsets
  // (86400 % 3 == 0, so userId aliases too) — every (partition,
  // offset) -> record mapping must stay collision-free
  private def requirePerFile(perFile: Int): Unit =
    require(perFile >= 60 && perFile <= 21350,
      "perFile in [60, 21350] (bin-isolated head, collision-free times)")

  def run(spark: SparkSession, dir: File, perFile: Int, tickMs: Long = 200L): Report = {
    requirePerFile(perFile)
    val corpus = new Corpus(dir)
    val cfg = cfgFor(dir)
    val job = new Restructure(spark, cfg)

    val t0 = System.nanoTime()

    // ---- phase 1: restructure-only polling under arriving/late/rewritten
    // files (the reference's restructure job alone) ----
    val svc1 = new Service(restructure = () => job.run(), restructureIntervalMs = tickMs)
    // wave A: both partitions; partition 1 starts HIGH so its low
    // offsets can arrive late in wave B
    val waveA0 = corpus.writeFile(0, 0L, perFile)
    val p1High = corpus.writeFile(1, 48800L, perFile)
    var fB: File = null
    var p1Late: File = null
    var fD: File = null
    svc1.start()
    try {
      // two full ticks guarantee at least one complete pass that STARTED
      // after the wave was on disk (the tick in flight at write time may
      // have listed the tree before it)
      awaitPasses(svc1, svc1.restructurePasses, 2)
      // wave B: growth on partition 0 + the LATE file on partition 1
      // (offsets below the partition's processed range — W4: no
      // watermark, seen-range pruning admits it whenever it arrives).
      // Partition 0 resumes at perFile + 1: offset perFile is reserved
      // for wave C's appended rewrite record, which must be globally new
      fB = corpus.writeFile(0, perFile + 1L, perFile)
      p1Late = corpus.writeFile(1, 0L, perFile)
      awaitPasses(svc1, svc1.restructurePasses, 2)
      // wave C: rewrite wave A's partition-0 file in place with ONE
      // appended record and a strictly newer mtime — W5: the recorded
      // ranges carry the processing-time mtime, so the newer file is
      // reprocessed; its re-emitted rows are byte-identical and the
      // output merge discipline (J4) absorbs them
      val origMtime = waveA0.lastModified()
      corpus.writeFile(0, 0L, perFile + 1)
      touchNewer(new File(dir, s"in/soak_topic/partition=0/${waveA0.getName}"), origMtime)
      awaitPasses(svc1, svc1.restructurePasses, 2)
      // wave D: one more partition-0 file, offset-disjoint and OUTSIDE
      // the head hour bin — phase 2's first cleaner pass must find a
      // fully-verified, unprotected file to DELETE while the planted
      // miss readmits the two head files
      fD = corpus.writeFile(0, 2L * perFile + 500L, perFile)
      awaitPasses(svc1, svc1.restructurePasses, 2)
    } finally svc1.stop()
    require(svc1.lastError.isEmpty, s"service pass failed: ${svc1.lastError}")

    // ---- plant the output miss. Planted while no service runs:
    // restructure never reads the output tree, but the cleaner's
    // verification does, and racing the delete against a concurrent
    // verification read would only test the filesystem (the from-startup
    // variant plants mid-wave instead, with the cleaner inside its age
    // window so no verification read is in flight either) ----
    plantMiss(dir)

    // ---- phase 2: the TWO-JOB scheduler (Application.kt:100-119) —
    // cleaner ticks interleave with restructure ticks while wave E is
    // still arriving. Expected flow: cleaner deletes the verified,
    // unprotected files (fB, fD) and READMITS the two head files (their
    // user0 records died with the planted bin — range removed from
    // state); restructure ticks REPROCESS them; a later cleaner pass
    // verifies the re-emitted output and deletes them too. Each
    // partition's newest end-less file stays P9-protected throughout ----
    val deletedPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val readmittedPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val cleaner = new Cleaner(spark, cfg, ageMs = -3600000L) // age never gates here
    val svc2 = new Service(
      restructure = () => job.run(),
      cleaner = Some(() => {
        val (d, r) = cleaner.run()
        d.foreach(deletedPaths.add); r.foreach(readmittedPaths.add)
      }),
      restructureIntervalMs = tickMs,
      cleanerIntervalMs = 2 * tickMs)
    val fE: File = corpus.writeFile(0, 3L * perFile + 1000L, perFile)
    svc2.start()
    try {
      // a full pass after wave E is on disk: the newest-file protection
      // must move to fE before the cleaner may touch fD
      awaitPasses(svc2, svc2.restructurePasses, 2)
      // convergence: the four deletable files all verified and deleted —
      // for the two readmitted head files that transitively proves the
      // whole chain (readmit -> reprocess -> re-verify -> delete), since
      // candidacy requires their ranges BACK in state and verification
      // requires their records BACK in the output
      val deletables = Seq(waveA0, fB, fD, p1Late)
      val deadline = System.currentTimeMillis() + 600000L
      while (deletables.exists(_.exists())) {
        require(svc2.lastError.isEmpty, s"service pass failed: ${svc2.lastError.get}")
        require(System.currentTimeMillis() < deadline,
          s"soak stalled waiting for cleaner convergence; still present: " +
            deletables.filter(_.exists()).mkString(", "))
        Thread.sleep(25L)
      }
      // one more full restructure pass: if a readmission landed just
      // before the final deletion, the plan must drain before the check
      awaitPasses(svc2, svc2.restructurePasses, 2)
    } finally svc2.stop()
    require(svc2.lastError.isEmpty, s"service pass failed: ${svc2.lastError}")

    verifyConverged(spark, dir, cfg, job, perFile,
      Waves(waveA0, p1High, fB, p1Late, fD, fE),
      ticks = svc1.restructurePasses.get() + svc2.restructurePasses.get(),
      cleanerTicks = svc2.cleanerPasses.get(),
      deletedPaths, readmittedPaths, t0)
  }

  /** From-startup scheduling (round-18 directive): ONE service registers
    * BOTH jobs at tick 0 — the reference's literal deployment shape
    * (Application.kt:100-119 schedules restructure AND cleaner on the
    * same scheduler at startup; [[run]] phases them for plant-timing
    * determinism). The cleaner's AGE GATE is the determinism lever here:
    * cleaner ticks run interleaved from the first restructure tick but
    * see no age-ELIGIBLE files until the gate opens (`now = 0` makes
    * every file younger than the cutoff — exactly a production cleaner
    * whose files sit inside its 7-day window), so the planted miss lands
    * MID-WAVE with both jobs live and the head files guaranteed still in
    * the source tree. That guarantee is load-bearing, not convenience: an
    * open-gate cleaner could have deleted the head files first, and a
    * miss planted AFTER a source file's deletion is unrecoverable data
    * loss by design (deletion only ever follows verified extraction —
    * the reference shares this, cleaner/SourceDataCleaner.kt:95-106).
    * Once the gate opens (with wave E arriving), the full chain runs
    * under interleaved ticks — delete fB/fD, readmit the two head files,
    * reprocess, re-delete — and the tail asserts the SAME equality set
    * as [[run]]. */
  def runFromStartup(spark: SparkSession, dir: File, perFile: Int,
      tickMs: Long = 200L): Report = {
    requirePerFile(perFile)
    val corpus = new Corpus(dir)
    val cfg = cfgFor(dir)
    val job = new Restructure(spark, cfg)
    val deletedPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val readmittedPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val cleaner = new Cleaner(spark, cfg, ageMs = -3600000L)
    val gate = new AtomicBoolean(false)
    val svc = new Service(
      restructure = () => job.run(),
      cleaner = Some(() => {
        // gate CLOSED -> now=0 fails the age check for every real file
        // (mtime < 0 + 1h past epoch): a TRUE tick that lists topics and
        // computes zero candidates — the production shape inside the age
        // window. OPEN -> real time; the negative age admits everything.
        val now = if (gate.get()) System.currentTimeMillis() else 0L
        val (d, r) = cleaner.run(now)
        d.foreach(deletedPaths.add); r.foreach(readmittedPaths.add)
      }),
      restructureIntervalMs = tickMs,
      cleanerIntervalMs = 2 * tickMs)

    val t0 = System.nanoTime()
    val waveA0 = corpus.writeFile(0, 0L, perFile)
    val p1High = corpus.writeFile(1, 48800L, perFile)
    var fB: File = null
    var p1Late: File = null
    var fD: File = null
    var fE: File = null
    svc.start()
    try {
      awaitPasses(svc, svc.restructurePasses, 2)
      fB = corpus.writeFile(0, perFile + 1L, perFile)
      p1Late = corpus.writeFile(1, 0L, perFile)
      awaitPasses(svc, svc.restructurePasses, 2)
      // wave C rewrite — the gate is still closed, so the cleaner cannot
      // have deleted waveA0 out from under the in-place rewrite
      val origMtime = waveA0.lastModified()
      corpus.writeFile(0, 0L, perFile + 1)
      touchNewer(waveA0, origMtime)
      awaitPasses(svc, svc.restructurePasses, 2)
      fD = corpus.writeFile(0, 2L * perFile + 500L, perFile)
      awaitPasses(svc, svc.restructurePasses, 2)
      // at least one pre-gate cleaner tick: "from tick 0" must be true in
      // the transcript, not just the schedule
      awaitPasses(svc, svc.cleanerPasses, 1)
      // the planted miss arrives MID-WAVE: both jobs live, wave E still
      // to come. No verification read can be in flight (ticks are
      // serialized on the scheduler thread and the closed gate plans
      // zero candidates), so the delete exercises the engine, not the
      // filesystem's read-vs-unlink semantics
      plantMiss(dir)
      fE = corpus.writeFile(0, 3L * perFile + 1000L, perFile)
      gate.set(true)
      val deletables = Seq(waveA0, fB, fD, p1Late)
      val deadline = System.currentTimeMillis() + 600000L
      while (deletables.exists(_.exists())) {
        require(svc.lastError.isEmpty, s"service pass failed: ${svc.lastError.get}")
        require(System.currentTimeMillis() < deadline,
          s"soak stalled waiting for cleaner convergence; still present: " +
            deletables.filter(_.exists()).mkString(", "))
        Thread.sleep(25L)
      }
      awaitPasses(svc, svc.restructurePasses, 2)
    } finally svc.stop()
    require(svc.lastError.isEmpty, s"service pass failed: ${svc.lastError}")

    verifyConverged(spark, dir, cfg, job, perFile,
      Waves(waveA0, p1High, fB, p1Late, fD, fE),
      ticks = svc.restructurePasses.get(),
      cleanerTicks = svc.cleanerPasses.get(),
      deletedPaths, readmittedPaths, t0)
  }

  private[graft] val InjectedCrash = "injected crash (W3 window)"

  /** TWO real instances against ONE shared tree (round-19 directive): the
    * reference's actual deployment is N concurrent app instances sharding
    * topics via remote locks (worker/RadarKafkaRestructure.kt:100,
    * integrationTest RedisRemoteLockManagerTest) — until this round the
    * lock protocol was proven only by single-JVM interleavings of its
    * pieces. Here two complete Restructure+Cleaner loops (separate
    * scheduler threads, separate Restructure/Cleaner objects, one shared
    * input/output/state tree and lock dir) run the SAME corpus and
    * convergence contract as [[runFromStartup]], with the W3 crash landed
    * in the most adversarial spot the deployment model allows:
    *
    *  - instance A processes the first wave and CRASHES mid-window — after
    *    its output write, before its state commit (the [[Restructure]]
    *    `beforeCommit` seam) — and stays down. The seam HOLDS the window
    *    open, topic lock held, until instance B has completed two full
    *    passes around it: B must tick during the window, skip the locked
    *    topic gracefully, and commit nothing. On-disk evidence is
    *    collected inside the window (part files present, batch absent
    *    from the ledger) while the lock makes the check race-free.
    *  - instance B then HEALS the crash: A's lock is gone (the in-JVM
    *    throw releases it; hard process death without a finally is the
    *    TTL stale-break path, pinned separately in LocksSpec and the
    *    crash-under-lock CrashRecoverySpec window), the batch is still
    *    unledgered, so B's next pass reprocesses it and the read-time
    *    dedup (J4) absorbs A's orphan part files.
    *  - instance A RESTARTS (fresh Service + Restructure + Cleaner over
    *    the same config — an orchestrator restart) and both instances run
    *    the remaining waves: late file, in-place rewrite, the planted
    *    output miss mid-wave, readmission, reprocessing, re-deletion.
    *    Tick intervals are coprime-ish (10:13 restructure, and offset
    *    cleaner periods), so the relative phase SWEEPS instead of
    *    repeating one alignment.
    *
    * Convergence must equal the one-shot run exactly as in the
    * single-instance soaks, PLUS: no double-delete and no double-readmit
    * (each path reported by exactly one instance's tick — delete events ==
    * distinct deleted paths), and no lost commit (both instances' ranges
    * all present: plan residue 0 and interval structure equal, despite
    * every commit being a concurrent read-merge-write under the shared
    * `__state` lock). Inter-wave barriers poll plan()-emptiness of the
    * SHARED state rather than either instance's tick counter — with locks
    * a completed pass no longer implies progress (the pass may have
    * skipped the locked topic). */
  def runTwoInstance(spark: SparkSession, dir: File, perFile: Int,
      tickMs: Long = 200L): Report = {
    requirePerFile(perFile)
    val corpus = new Corpus(dir)
    val cfg = cfgFor(dir).copy(lockDir = Some(s"$dir/locks"))
    val t0 = System.nanoTime()

    val deleteEvents = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readmitEvents = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val deletedPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val readmittedPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val gate = new AtomicBoolean(false)
    def cleanerTick(c: Cleaner): () => Unit = () => {
      val now = if (gate.get()) System.currentTimeMillis() else 0L
      val (d, r) = c.run(now)
      d.foreach { p => deleteEvents.add(p); deletedPaths.add(p) }
      r.foreach { p => readmitEvents.add(p); readmittedPaths.add(p) }
    }

    // ---- instance B: the survivor; ticks from before the crash to the end
    val jobB = new Restructure(spark, cfg)
    val recB = new AtomicLong(0)
    val svcB = new Service(
      restructure = () => recB.addAndGet(jobB.run().records),
      cleaner = Some(cleanerTick(new Cleaner(spark, cfg, ageMs = -3600000L))),
      restructureIntervalMs = tickMs * 13 / 10,
      cleanerIntervalMs = 2 * tickMs + 70)

    // ---- instance A: crashes mid-window on its first commit, then dies.
    // The seam runs on A's scheduler thread with the topic lock held: it
    // records the on-disk crash evidence (race-free — nobody else can
    // commit this topic), then keeps the window open until B has ticked
    // twice around it, then throws.
    val jobA = new Restructure(spark, cfg)
    val inWindow = new AtomicBoolean(false)
    val crashedOnce = new AtomicBoolean(false)
    val bTicksInWindow = new AtomicLong(-1L)
    val evidence = new java.util.concurrent.atomic.AtomicReference[String]("window never entered")
    def countParts(f: File): Int =
      if (f.isFile) { if (f.getName.startsWith("part-")) 1 else 0 }
      else Option(f.listFiles()).getOrElse(Array.empty[File]).map(countParts).sum
    jobA.beforeCommit = topic => {
      if (crashedOnce.compareAndSet(false, true)) {
        val unledgered = jobA.plan(topic, jobA.loadState()).size
        val parts = countParts(new File(dir, s"out/$topic"))
        evidence.set(
          if (parts == 0) "no part files on disk inside the crash window"
          else if (unledgered == 0) "batch already ledgered inside the crash window"
          else "")
        inWindow.set(true)
        val b0 = svcB.restructurePasses.get()
        val deadline = System.currentTimeMillis() + 120000L
        while (svcB.restructurePasses.get() < b0 + 2 &&
            System.currentTimeMillis() < deadline) Thread.sleep(20L)
        bTicksInWindow.set(svcB.restructurePasses.get() - b0)
      }
      // EVERY commit attempt throws — the Service retries NonFatal
      // failures next tick, so a once-only throw would let A self-heal
      // before B ever sees the orphan; A stays dead until stop()
      throw new RuntimeException(InjectedCrash)
    }
    val svcA = new Service(restructure = () => { jobA.run(); () },
      restructureIntervalMs = tickMs)

    def awaitCond(what: String, deadlineMs: Long = 120000L)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + deadlineMs
      while (!cond) {
        require(System.currentTimeMillis() < deadline, s"soak stalled: $what")
        Thread.sleep(20L)
      }
    }
    def awaitNoPlan(svcs: Seq[Service], deadlineMs: Long = 600000L): Unit = {
      val deadline = System.currentTimeMillis() + deadlineMs
      while (jobB.plan("soak_topic", jobB.loadState()).nonEmpty) {
        svcs.foreach(s => require(s.lastError.isEmpty,
          s"service pass failed: ${s.lastError.get}"))
        require(System.currentTimeMillis() < deadline,
          "soak stalled waiting for the shared plan to drain")
        Thread.sleep(50L)
      }
    }

    val waveA0 = corpus.writeFile(0, 0L, perFile)
    val p1High = corpus.writeFile(1, 48800L, perFile)
    var fB: File = null
    var p1Late: File = null
    var fD: File = null
    var fE: File = null
    var svcA2: Service = null
    try {
      svcA.start()
      awaitCond("crash window never opened")(inWindow.get())
      svcB.start() // B ticks WHILE A sits mid-window holding the topic lock
      awaitCond("injected crash never recorded")(
        svcA.lastError.exists(_.getMessage == InjectedCrash))
      svcA.stop() // instance A is dead
      require(evidence.get().isEmpty, s"crash-window evidence: ${evidence.get()}")
      require(bTicksInWindow.get() >= 2,
        s"instance B completed ${bTicksInWindow.get()} passes inside the window, expected >= 2")
      // B heals the crash: the batch is unledgered, the lock is free
      awaitNoPlan(Seq(svcB))
      require(recB.get() > 0, "instance B never processed the orphaned batch")

      // instance A restarts: fresh Service + job + cleaner, same config
      val jobA2 = new Restructure(spark, cfg)
      svcA2 = new Service(
        restructure = () => { jobA2.run(); () },
        cleaner = Some(cleanerTick(new Cleaner(spark, cfg, ageMs = -3600000L))),
        restructureIntervalMs = tickMs,
        cleanerIntervalMs = 2 * tickMs)
      svcA2.start()
      val both = Seq(svcA2, svcB)

      fB = corpus.writeFile(0, perFile + 1L, perFile)
      p1Late = corpus.writeFile(1, 0L, perFile)
      awaitNoPlan(both)
      // wave C rewrite — gate still closed, so no cleaner can delete
      // waveA0 out from under the in-place rewrite
      val origMtime = waveA0.lastModified()
      corpus.writeFile(0, 0L, perFile + 1)
      touchNewer(waveA0, origMtime)
      awaitNoPlan(both)
      fD = corpus.writeFile(0, 2L * perFile + 500L, perFile)
      awaitNoPlan(both)
      // each instance's cleaner verifiably ticking before the gate opens
      awaitPasses(svcB, svcB.cleanerPasses, 1)
      awaitPasses(svcA2, svcA2.cleanerPasses, 1)
      plantMiss(dir)
      fE = corpus.writeFile(0, 3L * perFile + 1000L, perFile)
      gate.set(true)
      val deletables = Seq(waveA0, fB, fD, p1Late)
      val deadline = System.currentTimeMillis() + 600000L
      while (deletables.exists(_.exists())) {
        both.foreach(s => require(s.lastError.isEmpty,
          s"service pass failed: ${s.lastError.get}"))
        require(System.currentTimeMillis() < deadline,
          s"soak stalled waiting for cleaner convergence; still present: " +
            deletables.filter(_.exists()).mkString(", "))
        Thread.sleep(25L)
      }
      awaitNoPlan(both)
    } finally {
      svcA.stop() // idempotent — already stopped on the success path
      if (svcA2 != null) svcA2.stop()
      svcB.stop()
    }
    require(svcA2.lastError.isEmpty && svcB.lastError.isEmpty,
      s"service pass failed: ${svcA2.lastError.orElse(svcB.lastError)}")

    // no double-delete / double-readmit: every path was reported by
    // exactly ONE instance's tick (a path deleted or readmitted twice
    // would appear as more events than distinct paths)
    require(deleteEvents.size() == deletedPaths.size(),
      s"double-delete: ${deleteEvents.size()} events over ${deletedPaths.size()} paths")
    require(readmitEvents.size() == readmittedPaths.size(),
      s"double-readmit: ${readmitEvents.size()} events over ${readmittedPaths.size()} paths")

    verifyConverged(spark, dir, cfg, jobB, perFile,
      Waves(waveA0, p1High, fB, p1Late, fD, fE),
      ticks = svcA.restructurePasses.get() + svcA2.restructurePasses.get() +
        svcB.restructurePasses.get(),
      cleanerTicks = svcA2.cleanerPasses.get() + svcB.cleanerPasses.get(),
      deletedPaths, readmittedPaths, t0)
  }

  /** Usage: runMain graft.ServiceSoak [perFile] [tickMs] [mode] — mode
    * `phased` (default) runs [[run]], `startup` runs [[runFromStartup]],
    * `two` runs [[runTwoInstance]]; the spec twins run all three bodies
    * at a small perFile. */
  def main(args: Array[String]): Unit = {
    val perFile = if (args.nonEmpty) args(0).toInt else 20000
    val tickMs = if (args.length > 1) args(1).toLong else 500L
    val mode = if (args.length > 2) args(2) else "phased"
    val spark = Sessions.build("graft-service-soak")
    val dir = Files.createTempDirectory("graft-service-soak").toFile
    val r = mode match {
      case "phased"  => run(spark, dir, perFile, tickMs)
      case "startup" => runFromStartup(spark, dir, perFile, tickMs)
      case "two"     => runTwoInstance(spark, dir, perFile, tickMs)
      case other     => throw new IllegalArgumentException(s"unknown mode: $other")
    }
    println(
      s"""{"metric":"service_soak","mode":"$mode","ticks":${r.ticks},"cleanerTicks":${r.cleanerTicks},""" +
        s""""rows":${r.soakRows},"deleted":${r.deletedFiles},"readmitted":${r.readmittedFiles},""" +
        s""""planAfter":${r.planAfter},"stateRanges":${r.stateRanges},""" +
        s""""oneShotStateRanges":${r.oneShotStateRanges},"sec":${r.wallSec}}""")
    spark.stop()
  }
}
