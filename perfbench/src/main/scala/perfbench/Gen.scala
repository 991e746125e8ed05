package perfbench

import graft.core.RdfEvent
import graft.parsing.NQuadsParser

import java.util.SplittableRandom

/** One sensor quad as the engine stores it: `<sensorN> <predicate> "value"`
  * at event time `ts`. */
final case class Reading(ts: Long, sensor: Int, predicate: String, value: Int)

/** One N-Quads input line. `reading` is what a correct parser yields;
  * None marks a deliberately malformed line the parser must reject. */
final case class Line(text: String, reading: Option[Reading])

/** What `NQuadsParser.parseLine` made of a batch of lines, checked
  * line by line against what the generator meant: `wrong` counts lines
  * parsed to another quad, or accepted or rejected against intent. */
final case class Parsed(events: Vector[RdfEvent], readings: Vector[Reading],
    rejected: Int, wrong: Int)

object Parsed {
  def of(lines: Seq[Line]): Parsed = {
    val events = Vector.newBuilder[RdfEvent]
    val readings = Vector.newBuilder[Reading]
    var rejected, wrong = 0
    lines.foreach { line =>
      (NQuadsParser.parseLine(line.text), line.reading) match {
        case (Right(e), Some(rd)) =>
          if (e.timestamp != rd.ts || e.subject != Gen.sensorIri(rd.sensor) ||
            e.predicate != rd.predicate || e.objectValue != rd.value.toString)
            wrong += 1
          events += e
          readings += rd
        case (Left(_), None) => rejected += 1
        case _               => wrong += 1
      }
    }
    Parsed(events.result(), readings.result(), rejected, wrong)
  }
}

/** Seeded input generators. The same seed always yields the same
  * inputs; the engine sees only what these produce. */
object Gen {
  val Ns = "http://example.org/"
  val ReadingP: String = Ns + "reading"
  val BatteryP: String = Ns + "battery"
  val Feed: String = Ns + "feed"
  val XsdInteger = "http://www.w3.org/2001/XMLSchema#integer"

  def sensorIri(i: Int): String = s"${Ns}sensor$i"

  /** Independent stream per (seed, purpose), so adding a consumer of
    * one stream never shifts another. */
  def rng(seed: Long, purpose: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + purpose)

  /** Historical reading value: 30..70, with 2 % outliers in 1..20 or
    * 80..99 (what `janus:is_outlier(?v, 50, 8, 3)` selects). */
  def historicalValue(r: SplittableRandom): Int =
    if (r.nextInt(50) == 0) {
      if (r.nextBoolean()) 1 + r.nextInt(20) else 80 + r.nextInt(20)
    } else 30 + r.nextInt(41)

  /** Fixed-epoch part of the historical log: each of `sensors` sensors
    * reports once per second, the cadence of the reference's data
    * generators, for `seconds` seconds from `t0` (sensor s at offset
    * s ms); 90 % readings, 10 % battery levels (never matched by the
    * queries, so filters have something to discard). */
  def sensorLog(seed: Long, seconds: Int, t0: Long, sensors: Int)
      : Vector[Reading] = {
    val r = rng(seed, 1)
    for (sec <- (0 until seconds).toVector; s <- 0 until sensors) yield {
      val ts = t0 + sec * 1000L + s
      if (r.nextInt(10) == 0) Reading(ts, s, BatteryP, r.nextInt(101))
      else Reading(ts, s, ReadingP, historicalValue(r))
    }
  }

  /** Recent part of the historical log, for the sliding-window query:
    * every sensor in `sensors` reads once per `gridMs`, at times
    * `anchor + j * gridMs` for j from `-before` to `after`. All
    * timestamps share one phase modulo `gridMs`, so a sliding window
    * whose bounds move by less than `gridMs` contains the same readings;
    * the readings after the anchor keep every window full however late
    * after set-up a query starts. */
  def recentLog(seed: Long, anchor: Long, gridMs: Long, before: Int,
      after: Int, sensors: Range): Vector[Reading] = {
    val r = rng(seed, 2)
    for (j <- (-before to after).toVector; s <- sensors)
      yield Reading(anchor + j * gridMs, s, ReadingP, 30 + r.nextInt(41))
  }

  /** Hybrid sensor value: sensor s hovers around 40 + 2 s (±10); 3 %
    * of readings jump 40 up or down, the anomalies the hybrid
    * queries' FILTERs report. */
  def hybridValue(r: SplittableRandom, sensor: Int): Int = {
    val base = 40 + 2 * sensor + r.nextInt(21) - 10
    if (r.nextInt(100) < 3) base + (if (r.nextBoolean()) 40 else -40)
    else base
  }

  /** Hybrid history: every sensor once per second over `[0, untilMs)`. */
  def hybridHistory(seed: Long, sensors: Int, untilMs: Long)
      : Vector[Reading] = {
    val r = rng(seed, 3)
    for (t <- (0L until untilMs by 1000L).toVector; s <- 0 until sensors)
      yield Reading(t + s, s, ReadingP, hybridValue(r, s))
  }

  def nquad(rd: Reading, graph: String): String =
    s"""${rd.ts} <${sensorIri(rd.sensor)}> <${rd.predicate}> "${rd.value}"^^<$XsdInteger> <$graph> ."""

  /** A line with an unterminated literal: the parser must reject it. */
  def malformed(rd: Reading): String =
    s"""${rd.ts} <${sensorIri(rd.sensor)}> <${rd.predicate}> "${rd.value} ."""

  /** `malformedPer10k` lines in 10 000 come out malformed. */
  def line(r: SplittableRandom, rd: Reading, malformedPer10k: Int): Line =
    if (r.nextInt(10000) < malformedPer10k) Line(malformed(rd), None)
    else Line(nquad(rd, Feed), Some(rd))

  /** One batch of hybrid input spanning `[from, from + spanMs)` event
    * time: every sensor reads `perSensor` times, in time order. */
  def hybridBatch(r: SplittableRandom, from: Long, spanMs: Long,
      sensors: Int, perSensor: Int, malformedPer10k: Int): Vector[Line] = {
    val n = sensors * perSensor
    Vector.tabulate(n) { i =>
      val s = i % sensors
      line(r, Reading(from + i * spanMs / n, s, ReadingP, hybridValue(r, s)),
        malformedPer10k)
    }
  }

  /** A line and the time it is due, in ms after the open loop starts. */
  final case class Timed(dueMs: Long, line: Line)

  /** One live line of `sensor`, due at `dueMs`. Its event time is the
    * due time, except that `latePerMille` lines in 1000 carry an event
    * time up to `maxLateMs` earlier: they arrive out of order. */
  def liveLine(r: SplittableRandom, dueMs: Long, sensor: Int,
      latePerMille: Int, maxLateMs: Long, malformedPer10k: Int): Timed = {
    val late =
      if (r.nextInt(1000) < latePerMille) 1 + r.nextLong(maxLateMs) else 0L
    val rd = Reading(math.max(1L, dueMs - late), sensor, ReadingP,
      historicalValue(r))
    Timed(dueMs, line(r, rd, malformedPer10k))
  }
}
