package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OracleSpec extends AnyFunSuite {
  private def rd(ts: Long, s: Int, v: Int) = Reading(ts, s, Gen.ReadingP, v)

  test("wire and plain forms canonicalize alike; numbers to 9 digits") {
    val plain = Oracle.rows(Seq(Map("sensor" -> Gen.sensorIri(1),
      "avg" -> "45.50000000001", "n" -> "3")))
    val wire = Oracle.wireRows(Seq(Map("n" -> "\"3\"^^<http://www.w3.org/2001/XMLSchema#decimal>",
      "sensor" -> s"<${Gen.sensorIri(1)}>",
      "avg" -> "\"45.5\"^^<http://www.w3.org/2001/XMLSchema#decimal>")))
    assert(plain === wire)
    assert(Oracle.number(1.0 / 3) === "0.333333333")
    assert(Oracle.plain("1.0E2") === "100")
  }

  test("fixed windows are inclusive at both ends and skip other predicates") {
    val log = Vector(rd(10, 0, 1), rd(20, 1, 2), rd(30, 0, 3),
      Reading(20, 2, Gen.BatteryP, 9))
    assert(Oracle.fixedReadings(log, 10, 20).size === 2)
    assert(Oracle.fixedAvgCount(log, 10, 30) === Vector(
      s"avg=2;n=1;sensor=${Gen.sensorIri(1)}",
      s"avg=2;n=2;sensor=${Gen.sensorIri(0)}"))
    assert(Oracle.fixedOutliers(Vector(rd(1, 0, 10), rd(2, 0, 50),
      rd(3, 0, 90)), 0, 5, 50, 8, 3).size === 2)
  }

  test("sliding windows: one result set per window, clipped at now") {
    // now 100, offset 60, range 30, step 20 → windows
    // [40,70] [60,90] [80,100] [100,100]
    val log = Vector(rd(45, 0, 10), rd(65, 0, 20), rd(85, 0, 30),
      rd(100, 0, 40), rd(39, 0, 99))
    val w = Oracle.slidingAvg(log, 100, 60, 30, 20)
    assert(w.size === 4)
    assert(w.map(_.map(_.takeWhile(_ != ';'))) === Vector(
      Vector("avg=15"), Vector("avg=25"), Vector("avg=35"), Vector("avg=40")))
    assert(Oracle.slidingAvg(Vector.empty, 100, 60, 30, 20)
      .forall(_.isEmpty))
  }

  test("event-time firing: a late event misses the fired close only") {
    val sim = new Oracle.FireSim(range = 20, step = 10, firstClose = 10)
    assert(sim.add(Seq(rd(1, 0, 1), rd(5, 0, 2))).isEmpty)
    // ts 12 closes 10: window [-10, 10) holds 1 and 5
    val f1 = sim.add(Seq(rd(12, 0, 3)))
    assert(f1.map(f => (f._1, f._2.map(_.ts))) === Vector((10L, Vector(1L, 5L))))
    // ts 8 arrives after close 10 fired: in close 20's window [0, 20),
    // never in close 10's; ts 31 fires 20 and 30
    val f2 = sim.add(Seq(rd(8, 0, 4), rd(31, 0, 5)))
    assert(f2.map(f => (f._1, f._2.map(_.ts).sorted)) === Vector(
      (20L, Vector(1L, 5L, 8L, 12L)), (30L, Vector(12L))))
    // one batch can fire several closes; empty windows are reported
    val f3 = sim.add(Seq(rd(75, 0, 6)))
    assert(f3.map(_._1) === Vector(40L, 50L, 60L, 70L))
    assert(f3.map(_._2.map(_.ts)) === Vector(Vector(31L), Vector(31L),
      Vector.empty, Vector.empty))
  }

  test("live shapes and hybrid anomalies") {
    val w = Seq(rd(1, 0, 70), rd(2, 1, 50), rd(3, 0, 30))
    assert(Oracle.filterAbove(60)(w) === Vector(s"sensor=${Gen.sensorIri(0)};v=70"))
    assert(Oracle.count(w) === Vector("n=3"))
    assert(Oracle.sensorAvg(w).head === s"avg=50;sensor=${Gen.sensorIri(0)}")
    assert(Oracle.filterBelow(40)(w) === Vector(s"sensor=${Gen.sensorIri(0)};v=30"))
    assert(Oracle.sensorMax(w) === Vector(s"max=50;sensor=${Gen.sensorIri(1)}",
      s"max=70;sensor=${Gen.sensorIri(0)}"))
    assert(Oracle.sensorCount(w) === Vector(s"n=1;sensor=${Gen.sensorIri(1)}",
      s"n=2;sensor=${Gen.sensorIri(0)}"))
    val mean = Oracle.baseline(w)
    assert(mean === Map(0 -> 50.0, 1 -> 50.0))
    val abs = Oracle.anomalies(mean, (l, m) => math.abs(l - m) > 15) _
    assert(abs(w) === Vector(
      s"live=30;mean=50;sensor=${Gen.sensorIri(0)}",
      s"live=70;mean=50;sensor=${Gen.sensorIri(0)}"))
    val low = Oracle.anomalies(mean, (l, m) => m - l > 15) _
    assert(low(w).size === 1)
  }

  test("a planted wrong value never matches what the engine returns") {
    val got = Oracle.rows(Seq(Map("n" -> "3")))
    assert(Oracle.plant(got) !== got)
    assert(Oracle.plant(Vector.empty) !== Vector.empty)
    assert(Oracle.plant(got).size === got.size)
  }
}
