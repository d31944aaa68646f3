package graft.state

import java.time.Instant
import scala.collection.mutable

/** Topic-partition key (reference: accounting/TopicPartition). */
final case class TopicPartition(topic: String, partition: Int)

/** Processed-offset state across all topic-partitions, with JSON persistence
  * in the reference's shape (accounting/OffsetRedisPersistence.kt:86-92):
  * `{"partitions":[{"topic":t,"partition":p,"ranges":[{"from":f,"to":t,"lastProcessed":iso}]}]}`.
  *
  * Driver-side state: small (O(gaps)), broadcast to executors when used as a
  * pruning predicate (graft.operators.Intervals.unseen*).
  */
final class OffsetRangeSet {
  private val map = mutable.LinkedHashMap.empty[TopicPartition, OffsetIntervals]

  def intervals(tp: TopicPartition): OffsetIntervals =
    map.getOrElseUpdate(tp, new OffsetIntervals())

  def add(tp: TopicPartition, from: Long, to: Long, mtime: Instant): Unit =
    intervals(tp).add(from, to, mtime)

  def contains(tp: TopicPartition, offset: Long, mtime: Instant): Boolean =
    map.get(tp).exists(_.contains(offset, mtime))

  def contains(tp: TopicPartition, from: Long, to: Long, mtime: Instant): Boolean =
    map.get(tp).exists(_.contains(from, to, mtime))

  /** Add `[from, to]` at `mtime` minus every offset `seen` covers with
    * `lastProcessed >= mtime` — per offset, the predicate
    * [[graft.operators.Intervals.unseenByState]] filters records with. */
  def addUnseen(tp: TopicPartition, from: Long, to: Long, mtime: Instant,
      seen: OffsetRangeSet): Unit =
    seen.map.get(tp).fold(Seq(from -> to))(_.uncovered(from, to, mtime))
      .foreach { case (f, t) => add(tp, f, t, mtime) }

  def remove(tp: TopicPartition, from: Long, to: Long): Unit =
    map.get(tp).foreach(_.remove(from, to))

  def addAll(other: OffsetRangeSet): Unit =
    other.entries.foreach { case (tp, r) => add(tp, r.from, r.to, r.lastProcessed) }

  /** Sorted (topic, partition, from) emission for stable persistence
    * (reference: accounting/OffsetRangeSet.kt:116-133). */
  def entries: Seq[(TopicPartition, OffsetRange)] =
    map.toSeq
      .sortBy { case (tp, _) => (tp.topic, tp.partition) }
      .flatMap { case (tp, iv) => iv.ranges.map(tp -> _) }

  def isEmpty: Boolean = map.values.forall(_.isEmpty)

  // topics are raw directory names (Restructure.listTopics), so the
  // persistence layer must not trust them: a quote or backslash emitted
  // verbatim would commit an unparseable state file and wedge every
  // later pass at loadState
  private def jsonEscape(s: String): String = s.flatMap {
    case '"'           => "\\\""
    case '\\'          => "\\\\"
    case c if c < ' '  => f"\\u${c.toInt}%04x"
    case c             => c.toString
  }

  def toJson: String = {
    val sb = new StringBuilder("{\"partitions\":[")
    val parts = map.toSeq.sortBy { case (tp, _) => (tp.topic, tp.partition) }
    parts.zipWithIndex.foreach { case ((tp, iv), i) =>
      if (i > 0) sb.append(',')
      sb.append("{\"topic\":\"").append(jsonEscape(tp.topic))
        .append("\",\"partition\":").append(tp.partition)
        .append(",\"ranges\":[")
      iv.ranges.zipWithIndex.foreach { case (r, j) =>
        if (j > 0) sb.append(',')
        sb.append("{\"from\":").append(r.from)
          .append(",\"to\":").append(r.to)
          .append(",\"lastProcessed\":\"").append(r.lastProcessed.toString)
          .append("\"}")
      }
      sb.append("]}")
    }
    sb.append("]}")
    sb.toString
  }
}

object OffsetRangeSet {

  /** Legacy CSV persistence: `offsetFrom,offsetTo,partition,topic[,lastModified]`
    * with a header line (reference: accounting/OffsetFilePersistence.kt:95-121).
    */
  def toCsv(set: OffsetRangeSet): String = {
    val sb = new StringBuilder("offsetFrom,offsetTo,partition,topic,lastModified\n")
    set.entries.foreach { case (tp, r) =>
      // the legacy format has no quoting discipline (fromCsv splits on
      // bare commas, reference OffsetFilePersistence.kt) — refuse topics
      // it cannot represent instead of silently corrupting the file
      require(!tp.topic.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'),
        s"legacy CSV offsets cannot represent topic name '${tp.topic}' — use JSON")
      sb.append(r.from).append(',').append(r.to).append(',')
        .append(tp.partition).append(',').append(tp.topic).append(',')
        .append(r.lastProcessed.toString).append('\n')
    }
    sb.toString
  }

  /** Parse the legacy CSV shape; `lastModified` column optional (older
    * files omit it — epoch is assumed, matching the reference's migration
    * behavior). */
  def fromCsv(text: String): OffsetRangeSet = {
    val set = new OffsetRangeSet
    text.linesIterator.drop(1).filter(_.nonEmpty).foreach { line =>
      val f = line.split(",", -1)
      require(f.length >= 4, s"bad offsets CSV line: $line")
      val mtime = if (f.length >= 5 && f(4).nonEmpty) Instant.parse(f(4)) else Instant.EPOCH
      // the reference strips quotes some CSV writers wrap the topic in
      // (accounting/OffsetFilePersistence.kt:64-70)
      val topic = f(3).dropWhile(_ == '"').reverse.dropWhile(_ == '"').reverse
      set.add(TopicPartition(topic, f(2).toInt), f(0).toLong, f(1).toLong, mtime)
    }
    set
  }

  /** Parse the persistence JSON (shape above) using Jackson from the Spark
    * classpath — no extra dependency. */
  def fromJson(json: String): OffsetRangeSet = {
    import com.fasterxml.jackson.databind.ObjectMapper
    val root = new ObjectMapper().readTree(json)
    val set = new OffsetRangeSet
    val parts = root.get("partitions")
    if (parts != null && parts.isArray) {
      parts.forEach { p =>
        val tp = TopicPartition(p.get("topic").asText, p.get("partition").asInt)
        val ranges = p.get("ranges")
        if (ranges != null && ranges.isArray) {
          ranges.forEach { r =>
            val mtime =
              if (r.has("lastProcessed")) Instant.parse(r.get("lastProcessed").asText)
              else Instant.EPOCH
            set.add(tp, r.get("from").asLong, r.get("to").asLong, mtime)
          }
        }
      }
    }
    set
  }
}
