package graft.restructure

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.state.{OffsetRangeSet, TopicPartition}

import java.time.Instant

/** The cleaner job (SURVEY §3.2): safely delete source Avro files whose
  * every record is verifiably present in the restructured output.
  *
  * - candidates: mtime older than `ageMs` AND offset range (+1) recorded in
  *   state, so the newest offset of a partition is never deleted (P9,
  *   cleaner/SourceDataCleaner.kt:83-92);
  * - verification: one distributed anti-join per topic of candidate-file
  *   records against the output's distinct (project, user, bin, time) set
  *   (J3/A5, cleaner/TimestampExtractionCheck.kt:50-78) — no per-file
  *   driver loops, one Spark job regardless of candidate count;
  * - verified files are deleted (S11); files with unmatched records have
  *   their range removed from state so the next restructure pass
  *   reprocesses them (cleaner/SourceDataCleaner.kt:103-106); a candidate
  *   whose verification read yielded NO rows at all (corrupt container
  *   quarantined mid-read, or nothing readable) is SKIPPED — never delete
  *   what was not verified — and re-evaluated next pass;
  * - with a lock manager configured (config.lockDir), each topic cleans
  *   under its topic lock and readmissions commit read-merge-write under
  *   the shared `__state` lock — the same protocol as
  *   [[Restructure]]'s commit, so the cleaner's removals and concurrent
  *   restructure instances' additions both land (a whole-file save
  *   outside the lock could overwrite a commit that landed between this
  *   pass's load and its save).
  */
final class Cleaner(spark: SparkSession, config: RestructureConfig, ageMs: Long = 7L * 24 * 3600 * 1000) {

  private val job = new Restructure(spark, config)
  private val lockMgr = config.lockDir.map(d =>
    new FileRemoteLockManager(spark.sparkContext.hadoopConfiguration, new Path(d)))

  /** Test seam (CleanerSpec lock-protocol pin): invoked once per topic
    * AFTER the topic lock is acquired and BEFORE the under-lock state
    * reload — lets a spec land a concurrent instance's commit inside the
    * [initial load .. lock acquired] window deterministically. Production
    * never sets it; the default is a no-op. */
  private[restructure] var beforeTopicClean: String => Unit = _ => ()

  def candidates(topic: String, state: OffsetRangeSet, now: Long = System.currentTimeMillis): Seq[TopicFile] = {
    val files = job.listFiles(topic)
    // P9 for END-LESS file names: with no end offset (neither in the
    // name nor a .meta sidecar) the state check below degenerates to
    // [start, start+1], which any processed multi-record range covers —
    // so the partition's newest file, the one the reference's end+1
    // check exists to keep (cleaner/SourceDataCleaner.kt:83-92), would
    // become a candidate whenever it holds >= 2 records. Exclude each
    // partition's max-startOffset file outright when its end is unknown;
    // files with a known end keep the reference's own protection.
    // Computed over the length/age-ELIGIBLE files, not the raw listing:
    // if the raw newest is a zero-length in-flight upload (or too young
    // to be a candidate anyway), the next-newest multi-record end-less
    // file is the one the degenerate state check would otherwise admit.
    val eligible = files
      .filter(_.length > 0)
      .filter(_.lastModified < now - ageMs)
    val newestEndless = eligible.groupBy(_.partition).values
      .map(_.maxBy(_.startOffset))
      .filter(_.endOffset.isEmpty)
      .map(_.path).toSet
    eligible
      .filterNot(f => newestEndless.contains(f.path))
      .filter { f =>
        state.contains(
          TopicPartition(f.topic, f.partition),
          f.startOffset, f.endOffset.getOrElse(f.startOffset) + 1,
          Instant.ofEpochMilli(f.lastModified))
      }
  }

  /** Distinct (project, user, bin, time) present in the topic's output.
    * The output-side event time is derived with the SAME cascade used at
    * write ([[graft.functions.Times.eventTimeFlat]] over the flat dotted
    * columns) — hardcoding `value.time` would crash or never verify topics
    * whose time comes from another cascade field (key.start,
    * value.timeReceived, ...). Both sides pass through timestamp_seconds so
    * they compare at the same (microsecond) precision. */
  def extractedTimes(topic: String): DataFrame = {
    // missing/empty output: nothing is extracted. Checked on the
    // filesystem, not by a failed read, whose analysis error every query
    // execution listener of the session would receive
    if (!job.hasOutput(topic))
      return spark.emptyDataFrame
        .withColumn("p", lit(null).cast("string"))
        .withColumn("u", lit(null).cast("string"))
        .withColumn("b", lit(null).cast("string"))
        .withColumn("t", lit(null).cast("double"))
    val df = job.readOutput(topic, dedup = false)
    df.select(
      col("_project").as("p"), col("_user").as("u"), col("_bin").as("b"),
      graft.functions.Times.eventTimeFlat(df).cast("double").as("t"))
      .distinct()
  }

  /** Per-file (count of source records NOT found in the output, max record
    * offset). Records with no event time count as present (reference
    * fallback, cleaner/TimestampFileCache.kt:62-66) but still contribute
    * their offset: the max offset is the file's TRUE end, learned from the
    * same read that verifies it, and supplies the reprocessing removal
    * range for files whose NAME carries no end offset — the reference can
    * only shrink such a file's removal to its start offset
    * (accounting/OffsetRangeSet.kt:170 `ensureToOffset`), which under
    * per-record seen-pruning would leave the file's later records
    * permanently ledgered even though extraction never verified them.
    * The hit flag rides a row-preserving left join (`extracted` is
    * distinct, so the join cannot multiply source rows) — one aggregate
    * yields both numbers per file. */
  def unmatchedCounts(topic: String, files: Seq[TopicFile]): Map[String, (Long, Long)] = {
    if (files.isEmpty) return Map.empty
    val extracted = extractedTimes(topic).withColumn("__hit", lit(1))
    job.readTopic(topic, files).flatMap { df =>
      val src = df.select(
        col("_file"), col("_offset"), col("_project").as("p"),
        col("_user").as("u"), col("_bin").as("b"),
        col("_time").cast("double").as("t"))
      src.join(extracted, Seq("p", "u", "b", "t"), "left")
        .groupBy("_file")
        .agg(
          count(when(col("t").isNotNull && col("__hit").isNull, lit(1))).as("n"),
          max(col("_offset")).as("end"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
    }.toMap
  }

  /** One cleaning pass. Returns (deleted paths, reprocess paths). */
  def run(now: Long = System.currentTimeMillis): (Seq[String], Seq[String]) = {
    var state = job.loadState()
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    val reprocess = scala.collection.mutable.ArrayBuffer.empty[String]
    job.listTopics().foreach { topic =>
      def clean(): Unit = {
        beforeTopicClean(topic)
        // with concurrent instances, candidacy must see the LATEST
        // committed state once the topic lock is held (same re-check as
        // the restructure pass). A fresh reload, not an additive merge:
        // merging would resurrect ranges a concurrent cleaner REMOVED
        // between our load and this lock, re-admitting an
        // already-readmitted file as a candidate. Nothing in-memory is
        // lost — this pass's own removals were committed to disk by
        // commitRemovals before the next topic runs.
        if (lockMgr.isDefined) state = job.loadState()
        val cand = candidates(topic, state, now)
        if (cand.nonEmpty) {
          val unmatched = unmatchedCounts(topic, cand)
          val removals =
            scala.collection.mutable.ArrayBuffer.empty[(TopicPartition, Long, Long)]
          cand.foreach { f =>
            unmatched.get(f.path) match {
              case Some((0L, _)) => // every record verified in the output
                val p = new Path(f.path)
                p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
                deleted += f.path
              case Some((_, maxOff)) =>
                // unmatched rows: remove the file's FULL range so every
                // record is readmitted — the end comes from the filename
                // when it carries one, else from the verification read's
                // max offset (the reference cannot learn the end and
                // shrinks the removal to the start offset,
                // accounting/OffsetRangeSet.kt:170)
                removals += ((TopicPartition(f.topic, f.partition),
                  f.startOffset, f.endOffset.getOrElse(maxOff)))
                reprocess += f.path
              case None => () // the verification read produced NO rows for
                // this candidate (corrupt container quarantined mid-read,
                // or nothing readable): deleting would bypass the
                // verify-before-delete invariant, and readmitting would
                // reprocess a file that may no longer be readable — skip;
                // the fault-tolerance machinery owns the file and the next
                // pass re-evaluates whatever remains on disk
            }
          }
          if (removals.nonEmpty) state = commitRemovals(state, removals.toSeq)
        }
      }
      lockMgr match {
        case Some(m) => m.withLock(topic)(clean()) // None -> another instance owns it
        case None    => clean()
      }
    }
    (deleted.toSeq, reprocess.toSeq)
  }

  /** Commit this pass's readmissions. With a lock manager: read-merge-write
    * under the shared `__state` lock — reload the latest committed state,
    * apply ONLY the removals, save — so a concurrent restructure commit
    * that landed after this pass's load survives (mirror of
    * [[Restructure]]'s commitState, which merges additions the same way).
    * Returns the state later topics should plan against. */
  private[restructure] def commitRemovals(
      state: OffsetRangeSet,
      removals: Seq[(TopicPartition, Long, Long)]): OffsetRangeSet =
    lockMgr match {
      case Some(m) =>
        m.withLockRetrying("__state") {
          val disk = job.loadState()
          removals.foreach { case (tp, from, end) => disk.remove(tp, from, end) }
          job.saveState(disk)
          disk
        }
      case None =>
        removals.foreach { case (tp, from, end) => state.remove(tp, from, end) }
        job.saveState(state)
        state
    }
}
