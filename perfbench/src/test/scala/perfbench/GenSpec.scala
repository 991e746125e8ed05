package perfbench

import graft.parsing.NQuadsParser

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed yields the same inputs; another seed other inputs") {
    def all(seed: Long) = (
      Gen.sensorLog(seed, 100, 1000L, 7),
      Gen.recentLog(seed, 50000L, 1000L, 20, 5, 0 until 3),
      Gen.hybridHistory(seed, 4, 20000L),
      Gen.hybridBatch(Gen.rng(seed, 41), 0L, 1000L, 4, 5, 500),
      (0 until 300).map(i => Gen.liveLine(Gen.rng(seed, 20), i * 10L, i % 5,
        50, 1000L, 50)))
    assert(all(7) === all(7))
    assert(all(7) !== all(8))
  }

  test("historical log: every sensor once per second, in time order") {
    val log = Gen.sensorLog(3, 100, 5000L, 9)
    assert(log.size === 900)
    assert(log.forall(r => r.ts >= 5000L && r.ts < 105000L))
    assert(log.map(_.ts) === log.map(_.ts).sorted)
    assert(log.groupBy(_.sensor).values.forall(rs =>
      rs.map(_.ts / 1000) === (5 until 105).map(_.toLong)))
  }

  test("recent log sits on one phase of its grid, both sides of the anchor") {
    val log = Gen.recentLog(3, 10500L, 1000L, 10, 4, 0 until 2)
    assert(log.size === 30)
    assert(log.forall(r => math.floorMod(r.ts, 1000L) == 500L))
    assert(log.map(_.ts).min === 500L && log.map(_.ts).max === 14500L)
  }

  test("lines parse back to their readings; malformed ones are rejected") {
    val r = Gen.rng(11, 1)
    val lines = (0 until 2000).map(i =>
      Gen.line(r, Reading(i.toLong, i % 5, Gen.ReadingP, i % 97), 500))
    val bad = lines.count(_.reading.isEmpty)
    assert(bad > 50 && bad < 200, s"$bad malformed of 2000")
    lines.foreach { l =>
      (NQuadsParser.parseLine(l.text), l.reading) match {
        case (Right(e), Some(rd)) =>
          assert(e.timestamp === rd.ts)
          assert(e.subject === Gen.sensorIri(rd.sensor))
          assert(e.predicate === rd.predicate)
          assert(e.objectValue === rd.value.toString)
          assert(e.graph === Gen.Feed)
        case (Left(_), None) => ()
        case other => fail(s"${l.text} -> $other")
      }
    }
  }

  test("a fixed share of live lines arrives out of order, never early") {
    val r = Gen.rng(5, 20)
    val ls = (0 until 10000).map(i => Gen.liveLine(r, 2000L + i * 10L, i % 5,
      50, 1000L, 0))
    val late = ls.count(t => t.line.reading.get.ts < t.dueMs)
    assert(late > 400 && late < 600, s"$late late of 10000")
    assert(ls.forall(t => t.line.reading.get.ts <= t.dueMs &&
      t.line.reading.get.ts >= t.dueMs - 1000L))
  }

  test("a hybrid batch spans exactly one step of event time") {
    val b = Gen.hybridBatch(Gen.rng(1, 41), 600500L, 1000L, 200, 1, 0)
    assert(b.size === 200)
    assert(b.flatMap(_.reading).map(_.sensor).distinct.size === 200)
    val ts = b.flatMap(_.reading).map(_.ts)
    assert(ts.min === 600500L && ts.max < 601500L)
  }
}
