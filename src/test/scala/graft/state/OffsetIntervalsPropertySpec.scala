package graft.state

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import java.time.Instant

/** ScalaCheck properties for the interval algebra (SURVEY §5): the state
  * set is the engine's only driver-side state, so its algebraic laws —
  * order-insensitive union, containment after add, removal splitting —
  * must hold on arbitrary inputs, not just the curated matrix.
  */
class OffsetIntervalsPropertySpec extends AnyFunSuite {

  private val t0 = Instant.parse("2024-01-01T00:00:00Z")

  private val genRange: Gen[(Long, Long)] = for {
    from <- Gen.chooseNum(0L, 120L)
    len <- Gen.chooseNum(0L, 15L)
  } yield (from, from + len)

  private val genRanges: Gen[List[(Long, Long)]] =
    Gen.listOfN(12, genRange).flatMap(l => Gen.choose(0, l.size).map(l.take))

  private def build(ranges: Seq[(Long, Long)]): OffsetIntervals = {
    val iv = new OffsetIntervals
    ranges.foreach { case (f, t) => iv.add(f, t, t0) }
    iv
  }

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  test("union is order-insensitive") {
    check("order", Prop.forAll(genRanges) { ranges =>
      build(ranges).ranges == build(ranges.reverse).ranges &&
        build(ranges).ranges == build(scala.util.Random.shuffle(ranges)).ranges
    })
  }

  test("every offset of every added range is contained; ranges stay disjoint and sorted") {
    check("contains", Prop.forAll(genRanges) { ranges =>
      val iv = build(ranges)
      val allCovered = ranges.forall { case (f, t) =>
        (f to t).forall(o => iv.contains(o, t0))
      }
      val rs = iv.ranges
      val disjointSorted = rs.sliding(2).forall {
        case Seq(a, b) => a.to + 1 < b.from // adjacent would have merged
        case _         => true
      }
      allCovered && disjointSorted
    })
  }

  test("remove splits: removed offsets are gone, others survive") {
    val gen = for { rs <- genRanges; cut <- genRange } yield (rs, cut)
    check("remove", Prop.forAll(gen) { case (ranges, (cf, ct)) =>
      val iv = build(ranges)
      val before = ranges.flatMap { case (f, t) => f to t }.toSet
      iv.remove(cf, ct)
      (cf to ct).forall(o => !iv.contains(o, t0)) &&
        (before -- (cf to ct)).forall(o => iv.contains(o, t0))
    })
  }

  test("structural equivalence with the naive coalesce model (incl. max-mtime merge)") {
    // the full contract in one property: the incremental add algorithm
    // must produce EXACTLY the intervals a naive model builds — sort all
    // ranges, fold overlapping-OR-adjacent ones together, keep the max
    // lastProcessed per merged group. This is the merge law the W5
    // mtime-reprocessing semantics ride on (a rewritten file reprocesses
    // iff its mtime exceeds the merged interval's), so it gets the model
    // check, not just point probes.
    val genTimed = Gen.listOfN(12, for {
      r <- genRange
      dt <- Gen.chooseNum(0L, 1000L)
    } yield (r._1, r._2, t0.plusSeconds(dt)))
    check("model", Prop.forAll(genTimed) { ranges =>
      val iv = new OffsetIntervals
      ranges.foreach { case (f, t, m) => iv.add(f, t, m) }
      val model = ranges.sortBy(r => (r._1, r._2))
        .foldLeft(List.empty[(Long, Long, Instant)]) {
          case ((af, at, am) :: rest, (f, t, m)) if f <= at + 1 =>
            (af, math.max(at, t), if (m.isAfter(am)) m else am) :: rest
          case (acc, (f, t, m)) => (f, t, m) :: acc
        }.reverse
      iv.ranges.map(r => (r.from, r.to, r.lastProcessed)) == model
    })
  }

  test("uncovered is the range minus the offsets contains accepts at that mtime") {
    // the restructure ledger subtracts seen state with this: it must agree
    // offset by offset with the row filter's predicate, and be maximal runs
    val gen = for {
      ranges <- Gen.listOfN(8, for {
        r <- genRange
        dt <- Gen.chooseNum(0L, 10L)
      } yield (r._1, r._2, t0.plusSeconds(dt)))
      q <- genRange
      dt <- Gen.chooseNum(0L, 10L)
    } yield (ranges, q, t0.plusSeconds(dt))
    check("uncovered", Prop.forAll(gen) { case (ranges, (qf, qt), m) =>
      val iv = new OffsetIntervals
      ranges.foreach { case (f, t, lp) => iv.add(f, t, lp) }
      val out = iv.uncovered(qf, qt, m)
      val expected = (qf to qt).filterNot(o => iv.contains(o, m))
      out.flatMap { case (f, t) => f to t } == expected &&
        out.sliding(2).forall {
          case Seq(a, b) => a._2 + 1 < b._1
          case _         => true
        }
    })
  }

  test("persistence round-trips: JSON and legacy CSV preserve every entry") {
    // the on-disk contract crash recovery rides on (write -> crash ->
    // reload must see the committed truth): arbitrary multi-topic states
    // survive toJson/fromJson and toCsv/fromCsv byte-exactly at the
    // entries level — ranges, partitions, topics, and Instant mtimes
    // (ISO-8601 toString/parse is lossless at nanosecond precision)
    val genState = Gen.listOfN(3, for {
      topic <- Gen.oneOf("alpha_topic", "beta_topic")
      part <- Gen.chooseNum(0, 3)
      ranges <- Gen.nonEmptyListOf(for {
        r <- genRange
        dt <- Gen.chooseNum(0L, 1000L)
      } yield (r._1, r._2, t0.plusSeconds(dt)))
    } yield (TopicPartition(topic, part), ranges))
    check("roundtrip", Prop.forAll(genState) { topics =>
      val set = new OffsetRangeSet
      topics.foreach { case (tp, rs) =>
        rs.foreach { case (f, t, m) => set.add(tp, f, t, m) }
      }
      val viaJson = OffsetRangeSet.fromJson(set.toJson).entries
      val viaCsv = OffsetRangeSet.fromCsv(OffsetRangeSet.toCsv(set)).entries
      viaJson == set.entries && viaCsv == set.entries
    })
  }

  test("size is O(gaps): adding a covering range collapses to one interval") {
    check("collapse", Prop.forAll(genRanges) { ranges =>
      val iv = build(ranges)
      val lo = if (ranges.isEmpty) 0L else ranges.map(_._1).min
      val hi = if (ranges.isEmpty) 0L else ranges.map(_._2).max
      iv.add(lo, hi, t0)
      iv.size == (if (ranges.isEmpty && lo == hi) iv.size else 1)
    })
  }
}
