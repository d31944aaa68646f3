package graft.state

import java.time.Instant
import scala.collection.mutable.ArrayBuffer

/** A closed offset interval with the most recent source-file modification
  * time observed while processing it (reference semantics:
  * accounting/OffsetRangeSet.kt:27-44).
  */
final case class OffsetRange(from: Long, to: Long, lastProcessed: Instant) {
  require(from <= to, s"invalid range [$from,$to]")
}

/** Sorted disjoint interval set over one topic-partition's offsets — the
  * engine's incremental "watermark" state.
  *
  * Same algebra as the reference (accounting/OffsetIntervals.kt:6-177):
  * adjacent/overlapping ranges coalesce, merges keep `max(lastProcessed)`,
  * `contains` is a binary search, and `remove` can split an interval. Size is
  * O(number of gaps). Driver-side only — never shipped per record; the
  * distributed form of the same aggregation is
  * [[graft.operators.Intervals.toRanges]].
  */
final class OffsetIntervals private (
    private val froms: ArrayBuffer[Long],
    private val tos: ArrayBuffer[Long],
    private val mtimes: ArrayBuffer[Instant]) {

  def this() = this(ArrayBuffer.empty, ArrayBuffer.empty, ArrayBuffer.empty)

  def size: Int = froms.length
  def isEmpty: Boolean = froms.isEmpty

  def ranges: Seq[OffsetRange] =
    froms.indices.map(i => OffsetRange(froms(i), tos(i), mtimes(i)))

  /** Index of the interval containing `offset`, or `-(insertion point) - 1`. */
  private def search(offset: Long): Int = {
    var lo = 0
    var hi = froms.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (tos(mid) < offset) lo = mid + 1
      else if (froms(mid) > offset) hi = mid - 1
      else return mid
    }
    -(lo + 1)
  }

  /** True iff `offset` is covered AND was processed no earlier than `mtime`
    * (a source file rewritten after we processed it must be re-read —
    * reference: accounting/OffsetIntervals.kt:33-44). */
  def contains(offset: Long, mtime: Instant): Boolean = {
    val i = search(offset)
    i >= 0 && !mtimes(i).isBefore(mtime)
  }

  /** True iff the whole closed range is covered by ONE interval with a
    * late-enough mtime (reference: accounting/OffsetIntervals.kt:23-31). */
  def contains(from: Long, to: Long, mtime: Instant): Boolean = {
    val i = search(from)
    i >= 0 && tos(i) >= to && !mtimes(i).isBefore(mtime)
  }

  /** The maximal sub-ranges of `[from, to]` that [[contains]]`(_, mtime)`
    * rejects: the range minus every interval processed no earlier than
    * `mtime`. Ascending; a binary search plus a walk over the overlapping
    * intervals. */
  def uncovered(from: Long, to: Long, mtime: Instant): Seq[(Long, Long)] = {
    require(from <= to, s"invalid range [$from,$to]")
    val out = ArrayBuffer.empty[(Long, Long)]
    var i = search(from)
    if (i < 0) i = -i - 1
    var next = from // first offset not yet decided
    var open = true // offsets next..to remain (false once an interval reaches to)
    while (open && i < froms.length && froms(i) <= to) {
      if (!mtimes(i).isBefore(mtime)) {
        if (froms(i) > next) out += ((next, froms(i) - 1))
        if (tos(i) >= to) open = false else next = tos(i) + 1
      }
      i += 1
    }
    if (open) out += ((next, to))
    out.toSeq
  }

  def add(offset: Long, mtime: Instant): Unit = add(offset, offset, mtime)

  /** Insert a closed range, coalescing with any overlapping or adjacent
    * intervals; merged intervals keep the max mtime
    * (reference: accounting/OffsetIntervals.kt:46-122). */
  def add(from: Long, to: Long, mtime: Instant): Unit = {
    require(from <= to, s"invalid range [$from,$to]")
    // first interval whose end reaches from-1 (adjacency merges too)
    var lo = search(from - 1)
    if (lo < 0) lo = -lo - 1
    // last interval whose start is <= to+1
    var hi = lo
    var f = from
    var t = to
    var m = mtime
    while (hi < froms.length && froms(hi) <= to + 1) {
      f = math.min(f, froms(hi))
      t = math.max(t, tos(hi))
      if (mtimes(hi).isAfter(m)) m = mtimes(hi)
      hi += 1
    }
    froms.remove(lo, hi - lo)
    tos.remove(lo, hi - lo)
    mtimes.remove(lo, hi - lo)
    froms.insert(lo, f)
    tos.insert(lo, t)
    mtimes.insert(lo, m)
  }

  def addAll(other: OffsetIntervals): Unit =
    other.ranges.foreach(r => add(r.from, r.to, r.lastProcessed))

  /** Remove a closed range, splitting intervals that straddle it
    * (reference: accounting/OffsetIntervals.kt:142-177). Used by the cleaner
    * to force reprocessing of a not-fully-extracted file. */
  def remove(from: Long, to: Long): Unit = {
    var i = search(from)
    if (i < 0) i = -i - 1
    while (i < froms.length && froms(i) <= to) {
      val f = froms(i)
      val t = tos(i)
      val m = mtimes(i)
      if (f >= from && t <= to) { // fully covered -> drop
        froms.remove(i); tos.remove(i); mtimes.remove(i)
      } else if (f < from && t > to) { // straddles -> split
        tos(i) = from - 1
        froms.insert(i + 1, to + 1); tos.insert(i + 1, t); mtimes.insert(i + 1, m)
        i += 2
      } else if (f < from) { // overlaps left edge -> truncate right side
        tos(i) = from - 1
        i += 1
      } else { // overlaps right edge -> truncate left side
        froms(i) = to + 1
        i += 1
      }
    }
  }
}
