package perfbench

import graft.api.{JanusApi, QueryRegistry}
import graft.parsing.NQuadsParser

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `live`: the parity live engine that `serve` ships, driven through
  * `JanusApi.registerQuery`/`startQuery`, `QueryHandle.addLiveEvents` and
  * `QueryHandle.receive`, with six live queries of different shapes
  * (two filters, a count, three per-sensor aggregates) over one stream;
  * six give each run over 40 latency samples, enough for a p80 tail.
  *
  * Open-loop phase: a generator thread releases N-Quads lines at a
  * fixed rate; event time is each line's due time, except that a fixed
  * share arrives out of order. A feeder thread parses whatever has
  * arrived and hands it to every query. Closed-loop phase: pre-generated
  * batches, each crossing one window close, fed as fast as results come
  * back. `serve` has no live ingress, so this workload skips HTTP. */
object Live {
  // Sources: RANGE 5000 STEP 1000 is the live window of the reference's
  // live and hybrid queries, and one reading per sensor per second is
  // the cadence of its data generators. The sensor count (which sets
  // the line rate), the late and malformed shares and the number of
  // queries are this benchmark's own choices (see README.md, "Where the
  // rates and sizes come from").
  val Sensors = 100
  /** Lines per second: every sensor reads once per second. */
  val RatePerS: Int = Sensors
  val StepMs = 1000L
  val RangeMs = 5000L
  val LatePerMille = 50
  val MaxLateMs = 1000L
  val MalformedPer10k = 50
  /** Share of the timed region given to the open-loop phase. */
  val OpenShare = 0.8
  val WarmupBatches = 6
  val SaturationPool = 2000
  /** The closed-loop phase runs at least this many batches, even when
    * the open loop overran its share of the run. */
  val MinSaturationBatches = 5
  val ResultTimeoutMs = 5000L

  private val Head =
    "PREFIX ex: <http://example.org/>\n"
  private val From =
    s"FROM NAMED WINDOW ex:w ON STREAM ex:feed [RANGE $RangeMs STEP $StepMs]\n"

  /** (name, Janus-QL, oracle for one window's contents). */
  val Shapes: Vector[(String, String, Seq[Reading] => Oracle.Rows)] = Vector(
    ("filter", filter("?v > 60"), Oracle.filterAbove(60)),
    ("count", Head + "SELECT (COUNT(?v) AS ?n)\n" + From +
      "WHERE {\n  WINDOW ex:w { ?sensor ex:reading ?v }\n}",
      Oracle.count),
    ("sensor_avg", perSensor("AVG(?v) AS ?avg", "?avg"), Oracle.sensorAvg),
    ("filter_low", filter("?v < 40"), Oracle.filterBelow(40)),
    ("sensor_max", perSensor("MAX(?v) AS ?max", "?max"), Oracle.sensorMax),
    ("sensor_count", perSensor("COUNT(?v) AS ?n", "?n"),
      Oracle.sensorCount))

  private def filter(cond: String): String =
    Head + "SELECT ?sensor ?v\n" + From +
      s"WHERE {\n  WINDOW ex:w { ?sensor ex:reading ?v . FILTER($cond) }\n}"

  private def perSensor(agg: String, out: String): String =
    Head + s"SELECT ?sensor $out\n" + From +
      s"WHERE {\n  WINDOW ex:w { { SELECT ?sensor ($agg) " +
      "WHERE { ?sensor ex:reading ?v } GROUP BY ?sensor } }\n}"

  /** One close of one query: what it must emit and when it was due. */
  final case class Fire(query: Int, close: Long, expected: Oracle.Rows,
      open: Boolean, addReturned: Double)

  final case class Got(query: Int, close: Long,
      binding: Map[String, String], at: Double)

  /** A batch of lines covering `[from, from + StepMs)` event time, in
    * order: one window close per batch. */
  def batch(r: java.util.SplittableRandom, from: Long): Vector[Gen.Timed] = {
    val n = (RatePerS * StepMs / 1000).toInt
    Vector.tabulate(n)(i =>
      Gen.liveLine(r, from + i * StepMs / n, i % Sensors, 0, 1,
        MalformedPer10k))
  }
}

final class Live(ctx: Ctx) {
  import Live._

  private val t = ctx.tracer

  private val received = new ConcurrentLinkedQueue[Got]()
  private val receivedCount = new ConcurrentHashMap[(Int, Long), Integer]()
  @volatile private var receiving = true

  // per-layer accumulators (feeder thread only)
  private var lines, rejected, parseWrong = 0L
  private var parseMs = 0.0
  private val calls = mutable.ArrayBuffer.empty[(Double, Double, Int)]

  def run(): Outcome = {
    val spark = ctx.session()
    val api = new JanusApi(spark, new QueryRegistry(),
      _ => spark.emptyDataFrame)

    // warm-up: same shapes, own queries, thrown away
    val warm = Shapes.indices.map { k =>
      api.registerQuery(s"warm$k", Shapes(k)._2); api.startQuery(s"warm$k")
    }
    val wr = Gen.rng(ctx.args.seed, 30)
    (0 until WarmupBatches).foreach { j =>
      val events = batch(wr, 1 + j * StepMs).flatMap(l =>
        NQuadsParser.parseLine(l.line.text).toOption)
      warm.foreach(_.addLiveEvents(Gen.Feed, events))
      warm.foreach(h => while (h.receive(20).isDefined) ())
    }
    Shapes.indices.foreach { k =>
      api.stopQuery(s"warm$k"); api.unregisterQuery(s"warm$k") }
    ctx.mark("warm-up")

    val regMs = mutable.ArrayBuffer.empty[Double]
    val startMs = mutable.ArrayBuffer.empty[Double]
    val handles = Shapes.indices.map { k =>
      val a = t.now()
      api.registerQuery(s"live$k", Shapes(k)._2)
      val b = t.now()
      val h = api.startQuery(s"live$k")
      regMs += b - a
      startMs += t.now() - b
      h
    }
    val sims = Shapes.indices.map(_ =>
      new Oracle.FireSim(RangeMs, StepMs, StepMs))
    val receiver = new Thread(() => {
      while (receiving) {
        var any = false
        handles.zipWithIndex.foreach { case (h, k) =>
          var r = h.tryReceive()
          while (r.isDefined) {
            any = true
            val now = t.now()
            r.get.bindings.foreach(b =>
              received.add(Got(k, r.get.timestamp, b, now)))
            receivedCount.merge((k, r.get.timestamp), r.get.bindings.size,
              (a: Integer, b: Integer) => a + b)
            r = h.tryReceive()
          }
        }
        if (!any) LockSupport.parkNanos(500000L)
      }
    }, "perfbench-receiver")
    receiver.setDaemon(true)
    receiver.start()

    val satRandom = Gen.rng(ctx.args.seed, 21)
    val openMs = (ctx.args.seconds * OpenShare * 1000).toLong
    val satBase = (openMs / StepMs + 2) * StepMs
    val pool = Vector.tabulate(SaturationPool)(j =>
      batch(satRandom, satBase + j * StepMs + StepMs / 2))

    val fires = mutable.ArrayBuffer.empty[Fire]
    /** Parse, feed every query, and note which closes each fired. */
    def feed(op: Long, timed: Seq[Gen.Timed], open: Boolean): Unit =
      t.span(if (open) "op.feed" else "op.saturate", op) {
        val p0 = t.now()
        val parsed = t.span("parsing.parse", op)(Parsed.of(timed.map(_.line)))
        parseMs += t.now() - p0
        lines += timed.size
        rejected += parsed.rejected
        parseWrong += parsed.wrong
        val evs = parsed.events
        val rds = parsed.readings
        handles.zipWithIndex.foreach { case (h, k) =>
          val a = t.now()
          t.span("streaming.add", op)(h.addLiveEvents(Gen.Feed, evs))
          val b = t.now()
          val fired = sims(k).add(rds)
          calls += ((a, b, fired.count(_._2.nonEmpty)))
          fired.foreach { case (c, window) =>
            if (window.nonEmpty)
              fires += Fire(k, c, Shapes(k)._3(window), open, b)
          }
        }
      }

    // ---- open loop ----
    val queue = new LinkedBlockingQueue[Gen.Timed]()
    val late = mutable.ArrayBuffer.empty[Double]
    var backlogMax = 0
    @volatile var generating = true
    val arrival = mutable.ArrayBuffer.empty[(Long, Long)] // (due, event ts)
    ctx.begin()
    val t0 = t.now()
    val t0n = System.nanoTime()
    val generator = new Thread(() => {
      val r = Gen.rng(ctx.args.seed, 20)
      var i = 0L
      var due = 0L
      while (due < openMs) {
        val at = t0n + due * 1000000L
        var wait = at - System.nanoTime()
        while (wait > 0) { LockSupport.parkNanos(wait); wait = at - System.nanoTime() }
        late += (System.nanoTime() - at) / 1e6
        queue.put(Gen.liveLine(r, due, (i % Sensors).toInt, LatePerMille,
          MaxLateMs, MalformedPer10k))
        backlogMax = math.max(backlogMax, queue.size)
        i += 1
        due = i * 1000L / RatePerS
      }
      generating = false
    }, "perfbench-generator")
    generator.start()
    var op = 0L
    while (generating || !queue.isEmpty) {
      val first = queue.poll(20, TimeUnit.MILLISECONDS)
      if (first != null) {
        val got = new java.util.ArrayList[Gen.Timed]()
        got.add(first)
        queue.drainTo(got)
        val batchLines = got.asScala.toVector
        batchLines.foreach(tl => tl.line.reading.foreach(rd =>
          arrival += ((tl.dueMs, rd.ts))))
        feed(op, batchLines, open = true)
        op += 1
      }
    }
    generator.join()
    awaitResults(fires.toSeq)

    // ---- closed loop (saturation) ----
    val satStart = t.now()
    val satFires0 = fires.size
    var j = 0
    while ((t.now() < ctx.deadline || j < MinSaturationBatches) &&
      j < pool.size) {
      val before = fires.size
      feed(op, pool(j), open = false)
      awaitResults(fires.drop(before).toSeq)
      op += 1
      j += 1
    }
    val satSeconds = (t.now() - satStart) / 1000
    val satFires = fires.size - satFires0
    ctx.end()
    Thread.sleep(50)
    receiving = false
    receiver.join()
    val stopMs = Shapes.indices.map { k =>
      val a = t.now(); api.stopQuery(s"live$k"); t.now() - a }

    // ---- verdicts ----
    val byKey = received.asScala.toSeq.groupBy(g => (g.query, g.close))
    val expectedKeys = fires.map(f => (f.query, f.close)).toSet
    val plantAt = if (ctx.args.plantWrong) fires.headOption else None
    val verdicts = fires.toSeq.map { f =>
      val got = byKey.getOrElse((f.query, f.close), Nil)
      val exp = if (plantAt.contains(f)) Oracle.plant(f.expected) else f.expected
      val ok = Oracle.rows(got.map(_.binding)) == exp
      if (!ok) System.err.println(s"perfbench: live q${f.query} close " +
        s"${f.close}: ${got.size} rows vs ${exp.size} expected")
      (f, ok, got)
    }
    val unexpected = byKey.keySet.count(!expectedKeys.contains(_))
    if (unexpected > 0)
      System.err.println(s"perfbench: live: $unexpected unexpected closes")
    // latency: due time of the event that closed the window → last row
    val closing = closingDue(arrival.toSeq, fires.toSeq.filter(_.open).map(_.close)
      .distinct.sorted)
    val timedOk = verdicts.filter { case (f, ok, got) =>
      ok && f.open && got.nonEmpty }
    val latencies = timedOk.map { case (f, _, got) =>
      got.map(_.at).max - (t0 + closing(f.close)) }
    val waits = timedOk.map { case (f, _, got) => got.map(_.at).max - f.addReturned }

    val n = math.max(1, fires.size).toDouble
    ctx.set("parsing.lines", lines / n)
    ctx.set("parsing.busy_ms", parseMs / n)
    ctx.set("parsing.rejected_ratio", rejected.toDouble / math.max(1L, lines))
    ctx.set("api.register_ms", Stats.mean(regMs))
    ctx.set("api.start_ms", Stats.mean(startMs))
    ctx.set("api.stop_ms", Stats.mean(stopMs))
    ctx.set("api.result_wait_ms", Stats.mean(waits))
    ctx.set("streaming.fires", fires.size)
    ctx.set("streaming.add_ms", Stats.mean(calls.map(c => c._2 - c._1)))
    val firing = calls.filter(_._3 > 0)
    ctx.set("streaming.fire_ms",
      firing.map(c => c._2 - c._1).sum / math.max(1, firing.map(_._3).sum))
    ctx.set("streaming.empty_fire_ratio", fires.count(_.expected.isEmpty) / n)
    ctx.set("streaming.dropped", handles.flatMap(_.live).map(_.droppedResults).sum)
    ctx.set("streaming.buffered_events",
      Stats.mean(handles.flatMap(_.live).map(_.bufferedEventCount.toDouble)))
    if (late.nonEmpty) {
      ctx.set("gen.late_ms_p50", Stats.median(late.toSeq))
      ctx.set("gen.late_ms_tail", Stats.tail(late.toSeq)._2)
    }
    ctx.set("gen.backlog_max", backlogMax)
    if (parseWrong > 0)
      System.err.println(s"perfbench: live: $parseWrong lines parsed wrongly")
    Outcome(
      attempted = fires.size,
      failed = verdicts.count(!_._2) + unexpected + parseWrong,
      latencyName = "live_ms", latencies = latencies,
      throughputName = "live_fires_per_s", throughputUnit = "1/s",
      throughput = satFires / math.max(1e-9, satSeconds),
      gapIntervals = firing.map(c => (c._1, c._2)).toSeq,
      named = Seq(
        ("live_fire_window_ms", RangeMs.toDouble, "ms (RANGE; STEP " +
          s"$StepMs ms is the latency limit)"),
        ("gen_backlog_max", backlogMax.toDouble, "lines")))
  }

  /** Wait until every fire with expected rows has all of them. A
    * timeout is not an error here: the verdict pass reports it. */
  private def awaitResults(fs: Seq[Fire]): Unit = {
    val deadline = t.now() + ResultTimeoutMs
    def done = fs.forall(f => f.expected.isEmpty ||
      Option(receivedCount.get((f.query, f.close))).exists(_ >= f.expected.size))
    while (!done && t.now() < deadline) LockSupport.parkNanos(200000L)
  }

  /** For each close c (ascending), the due time of the first line in
    * arrival order whose event time reaches c. */
  private def closingDue(arrival: Seq[(Long, Long)], closes: Seq[Long])
      : Map[Long, Long] = {
    val out = mutable.Map.empty[Long, Long]
    var i = 0
    arrival.foreach { case (due, ts) =>
      while (i < closes.size && closes(i) <= ts) {
        out(closes(i)) = due
        i += 1
      }
    }
    out.toMap
  }
}
