package perfbench

import java.math.MathContext

/** Expected answers computed in plain Scala from the generated inputs,
  * and the canonical form both sides are compared in.
  *
  * A result set is a sorted vector of canonical rows; a row is its
  * bindings sorted by variable, numbers rounded to 9 significant
  * digits (so an AVG summed in another order still matches). */
object Oracle {
  type Rows = Vector[String]

  /** Value as JanusApi hands it out (plain lexical form). */
  def plain(v: String): String =
    if (v.nonEmpty && (v.head.isDigit || v.head == '-' || v.head == '.'))
      v.toDoubleOption.map(number).getOrElse(v)
    else v

  /** Value in the HTTP/WS wire form: `<iri>`, `"lex"^^<dt>` or `"lit"`. */
  def wire(v: String): String =
    if (v.startsWith("<") && v.endsWith(">")) v.substring(1, v.length - 1)
    else if (v.startsWith("\"")) plain(v.substring(1, v.lastIndexOf('"')))
    else plain(v)

  def number(d: Double): String =
    new java.math.BigDecimal(d).round(new MathContext(9))
      .stripTrailingZeros.toPlainString

  def row(b: Iterable[(String, String)]): String =
    b.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(";")

  /** Canonical rows from engine bindings in plain form. */
  def rows(bs: Iterable[Map[String, String]]): Rows =
    bs.iterator.map(b => row(b.map { case (k, v) => k -> plain(v) }))
      .toVector.sorted

  /** Canonical rows from wire-form bindings (WS frames). */
  def wireRows(bs: Iterable[Map[String, String]]): Rows =
    bs.iterator.map(b => row(b.map { case (k, v) => k -> wire(v) }))
      .toVector.sorted

  /** The self-test's planted defect: one expected value that no
    * correct engine can produce. */
  def plant(expected: Rows): Rows =
    if (expected.isEmpty) Vector("planted=1")
    else expected.updated(0, expected(0) + ";planted=1")

  private def sensorRow(rd: Reading, vVar: String): String =
    row(Seq("sensor" -> Gen.sensorIri(rd.sensor), vVar -> number(rd.value)))

  // ---- historical --------------------------------------------------

  private def readingsIn(log: Seq[Reading], from: Long, to: Long) =
    log.iterator.filter(r =>
      r.predicate == Gen.ReadingP && r.ts >= from && r.ts <= to)

  /** `WINDOW { ?sensor ex:reading ?v }` over inclusive `[from, to]`. */
  def fixedReadings(log: Seq[Reading], from: Long, to: Long): Rows =
    readingsIn(log, from, to).map(sensorRow(_, "v")).toVector.sorted

  /** `{ SELECT ?sensor (AVG(?v) AS ?avg) (COUNT(?v) AS ?n) ... GROUP BY
    * ?sensor }` over inclusive `[from, to]`. */
  def fixedAvgCount(log: Seq[Reading], from: Long, to: Long): Rows =
    perSensorAvg(readingsIn(log, from, to).toSeq, withCount = true)

  def perSensorAvg(rs: Seq[Reading], withCount: Boolean): Rows =
    rs.groupBy(_.sensor).toVector.map { case (s, xs) =>
      val avg = "avg" -> number(xs.map(_.value.toDouble).sum / xs.size)
      row(Seq("sensor" -> Gen.sensorIri(s), avg) ++
        (if (withCount) Seq("n" -> number(xs.size)) else Nil))
    }.sorted

  /** `FILTER(janus:is_outlier(?v, mean, sigma, z))`: |v - mean| / sigma > z. */
  def fixedOutliers(log: Seq[Reading], from: Long, to: Long, mean: Double,
      sigma: Double, z: Double): Rows =
    readingsIn(log, from, to)
      .filter(r => math.abs((r.value - mean) / sigma) > z)
      .map(sensorRow(_, "v")).toVector.sorted

  /** Sliding `[OFFSET o RANGE r STEP s]` at `now`: window k covers
    * `[now - o + k s, min(now - o + k s + r, now)]`, k = 0 .. o / s,
    * one result set (per-sensor AVG) per window, empty ones included. */
  def slidingAvg(log: Seq[Reading], now: Long, offset: Long, range: Long,
      step: Long): Vector[Rows] = {
    val base = now - offset
    val recent = readingsIn(log, base, now).toVector
    Vector.tabulate((offset / step + 1).toInt) { k =>
      val from = base + k * step
      val to = math.min(from + range, now)
      perSensorAvg(recent.filter(r => r.ts >= from && r.ts <= to),
        withCount = false)
    }
  }

  // ---- live (event-time firing, out-of-order input) ----------------

  /** Event-time window firing as a live engine applies it to one
    * stream: a window `[RANGE range STEP step]` closes at every multiple
    * c of `step` (from `firstClose`) once the stream's highest event
    * time reaches c, and the close sees every event that ARRIVED before
    * it fired with a timestamp in `[c - range, c)`. A late event that
    * arrives after a close fired is missing from that close and present
    * in the later ones that cover it. */
  final class FireSim(range: Long, step: Long, firstClose: Long) {
    private var buffer = Vector.empty[Reading]
    private var next = firstClose
    private var maxTs = Long.MinValue

    /** Feed one batch (one `addLiveEvents` call); returns the closes it
      * fires, in order, each with its window contents. */
    def add(batch: Seq[Reading]): Vector[(Long, Vector[Reading])] =
      if (batch.isEmpty) Vector.empty
      else {
        buffer ++= batch
        maxTs = math.max(maxTs, batch.map(_.ts).max)
        val out = Vector.newBuilder[(Long, Vector[Reading])]
        while (next <= maxTs) {
          val c = next
          out += ((c, buffer.filter(r => r.ts >= c - range && r.ts < c)))
          next += step
        }
        buffer = buffer.filter(_.ts >= next - range)
        out.result()
      }
  }

  /** `WINDOW { ?sensor ex:reading ?v . FILTER(?v > t) }` */
  def filterAbove(t: Int)(w: Seq[Reading]): Rows =
    w.filter(_.value > t).map(sensorRow(_, "v")).toVector.sorted

  /** `WINDOW { ?sensor ex:reading ?v . FILTER(?v < t) }` */
  def filterBelow(t: Int)(w: Seq[Reading]): Rows =
    w.filter(_.value < t).map(sensorRow(_, "v")).toVector.sorted

  /** `SELECT (COUNT(?v) AS ?n)` */
  def count(w: Seq[Reading]): Rows = Vector(row(Seq("n" -> number(w.size))))

  /** per-sensor `AVG(?v) AS ?avg` subquery */
  def sensorAvg(w: Seq[Reading]): Rows = perSensorAvg(w, withCount = false)

  /** per-sensor `MAX(?v) AS ?max` subquery */
  def sensorMax(w: Seq[Reading]): Rows = perSensor(w, "max")(_.max)

  /** per-sensor `COUNT(?v) AS ?n` subquery */
  def sensorCount(w: Seq[Reading]): Rows = perSensor(w, "n")(_.size)

  private def perSensor(w: Seq[Reading], v: String)(f: Seq[Int] => Int)
      : Rows =
    w.groupBy(_.sensor).toVector.map { case (s, xs) =>
      row(Seq("sensor" -> Gen.sensorIri(s), v -> number(f(xs.map(_.value)))))
    }.sorted

  // ---- hybrid (baseline + anomaly FILTER) --------------------------

  /** AGGREGATE baseline: per sensor, the mean of every reading the
    * historical window holds when warm-up runs. */
  def baseline(log: Iterable[Reading]): Map[Int, Double] =
    log.iterator.filter(_.predicate == Gen.ReadingP).toSeq.groupBy(_.sensor)
      .map { case (s, xs) => s -> xs.map(_.value.toDouble).sum / xs.size }

  /** Anomaly rows `(?sensor ?live ?mean)` of a window. */
  def anomalies(mean: Map[Int, Double], flags: (Double, Double) => Boolean)
      (w: Seq[Reading]): Rows =
    w.flatMap { r =>
      mean.get(r.sensor).filter(m => flags(r.value.toDouble, m)).map(m =>
        row(Seq("sensor" -> Gen.sensorIri(r.sensor),
          "live" -> number(r.value), "mean" -> number(m))))
    }.toVector.sorted
}
