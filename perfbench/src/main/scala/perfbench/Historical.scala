package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.RdfEvent
import graft.storage.EventLog

import java.util.concurrent.{CompletableFuture, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `historical`: the served product end to end. A seeded sensor log is
  * written with `EventLog.appendBulk`, the stack is started exactly as
  * a user starts it (`graft.Main.run("serve", dir, port)`), and one
  * closed-loop client registers, starts, subscribes over WebSocket,
  * reads every Historical frame, stops and deletes one query per
  * operation. Query kinds rotate: narrow fixed window (1 % of the log
  * span, where pruning would matter), wide fixed window (whole log,
  * scan-bound aggregate), sliding window with per-sensor AVG (many
  * frames), fixed window with a `janus:is_outlier` FILTER. Each kind's
  * window is placed once per run by the seed. */
object Historical {
  // Sources: the one-reading-per-second cadence is that of the
  // reference's data generators; the sensor count, the log length and
  // the sliding window's OFFSET/RANGE/STEP are this benchmark's own
  // choices (see README.md, "Where the rates and sizes come from").
  val T0 = 1600000000000L
  val Sensors = 10
  val Seconds = 4800
  val SpanMs: Long = Seconds * 1000L
  /** Sliding-window data: sensors reading once per grid step, from
    * `RecentBefore` steps before the set-up anchor to `RecentAfter`
    * steps after it (longer than any run), so every query's windows
    * hold the same readings. */
  val RecentSensors: Range = 100 until 106
  val GridMs = 1000L
  val RecentBefore = 300
  val RecentAfter = 300
  val OffsetMs = 150000L
  val RangeMs = 30000L
  val StepMs = 10000L
  val NarrowMs: Long = SpanMs / 100
  val OutlierMs: Long = SpanMs / 10
  val FrameTimeoutMs = 30000L
  val Kinds: Vector[String] = Vector("narrow", "wide", "sliding", "outlier")
  /** Untimed queries before the timed region: eight rounds of the
    * four kinds (round times still fell by a fifth over the first
    * rounds after four). */
  val WarmupOps = 32
  /** Timed rounds per second of `--seconds` (a round took about 1.1 s
    * on the 4-vCPU development host). */
  val RoundsPerSecond = 1.0

  private val Prefixes =
    "PREFIX ex: <http://example.org/>\nPREFIX janus: <https://janus.rs/fn#>\n"

  def query(kind: String, from: Long, to: Long): String = kind match {
    case "narrow" =>
      Prefixes + "SELECT ?sensor ?v\n" +
        s"FROM NAMED WINDOW ex:w ON LOG ex:store [START $from END $to]\n" +
        "WHERE {\n  WINDOW ex:w { ?sensor ex:reading ?v }\n}"
    case "wide" =>
      Prefixes + "SELECT ?sensor ?avg ?n\n" +
        s"FROM NAMED WINDOW ex:w ON LOG ex:store [START $from END $to]\n" +
        "WHERE {\n  WINDOW ex:w { { SELECT ?sensor (AVG(?v) AS ?avg) " +
        "(COUNT(?v) AS ?n) WHERE { ?sensor ex:reading ?v } GROUP BY ?sensor } }\n}"
    case "sliding" =>
      Prefixes + "SELECT ?sensor ?avg\n" +
        s"FROM NAMED WINDOW ex:w ON LOG ex:store [OFFSET $OffsetMs RANGE $RangeMs STEP $StepMs]\n" +
        "WHERE {\n  WINDOW ex:w { { SELECT ?sensor (AVG(?v) AS ?avg) " +
        "WHERE { ?sensor ex:reading ?v } GROUP BY ?sensor } }\n}"
    case "outlier" =>
      Prefixes + "SELECT ?sensor ?v\n" +
        s"FROM NAMED WINDOW ex:w ON LOG ex:store [START $from END $to]\n" +
        "WHERE {\n  WINDOW ex:w { ?sensor ex:reading ?v . " +
        "FILTER(janus:is_outlier(?v, 50, 8, 3)) }\n}"
  }

  /** Per-operation record for the per-layer metrics. */
  final case class Op(kind: String, start: Double, end: Double,
      ok: Boolean, histMs: Double, firstMs: Double, frames: Int,
      lastFrame: Double, windowRecords: Long, windows: Int, bytes: Long,
      lagged: Int, registerMs: Double, startMs: Double, stopMs: Double)

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c    => c.toString
    } + "\""
}

final class Historical(ctx: Ctx) {
  import Historical._

  private val t = ctx.tracer
  private val json = new ObjectMapper()

  private var log: Vector[Reading] = Vector.empty
  private var net: Net = _

  /** Each kind's fixed window, placed by the seed: every round re-runs
    * the same four queries, like a dashboard refreshing its panels. */
  private lazy val kindWindows: Map[String, (Long, Long)] = {
    val r = Gen.rng(ctx.args.seed, 10)
    val narrow = T0 + r.nextLong(SpanMs - NarrowMs)
    val outlier = T0 + r.nextLong(SpanMs - OutlierMs)
    Map("narrow" -> (narrow, narrow + NarrowMs),
      "outlier" -> (outlier, outlier + OutlierMs),
      "wide" -> (T0, T0 + SpanMs), "sliding" -> (T0, T0 + SpanMs))
  }

  def run(): Outcome = {
    val spark = ctx.session()
    val dir = ctx.args.work.resolve("log")
    val anchor = (System.currentTimeMillis() / GridMs) * GridMs - GridMs / 2
    log = Gen.sensorLog(ctx.args.seed, Seconds, T0, Sensors) ++
      Gen.recentLog(ctx.args.seed, anchor, GridMs, RecentBefore, RecentAfter,
        RecentSensors)
    val events = log.map(r => RdfEvent(r.ts, Gen.sensorIri(r.sensor),
      r.predicate, r.value.toString, ""))
    new EventLog(spark, dir.toString)
      .appendBulk(RdfEvent.toDF(spark, events), parallelism = ctx.cpus)
    val (logBytes, logFiles) = Meter.diskUsage(dir)
    ctx.mark("log")

    val served = new CompletableFuture[Int]()
    val server = new Thread(() => {
      graft.Main.run(Array("serve", dir.toString, "0"), line => {
        val m = "port (\\d+)".r.findFirstMatchIn(line)
        m.foreach(x => served.complete(x.group(1).toInt))
      })
      ()
    }, "perfbench-serve")
    server.setDaemon(true)
    server.start()
    net = new Net(served.get(120, TimeUnit.SECONDS))
    ctx.mark("serve")

    (0 until WarmupOps).foreach(i => op(-1L - i, Kinds(i % Kinds.size),
      plant = false))
    ctx.mark("warm-up")

    ctx.begin()
    val ops = mutable.ArrayBuffer.empty[Op]
    val target = ctx.timedUnits(RoundsPerSecond) * Kinds.size
    var i = 0
    // whole rounds only: the kinds differ 3x in cost, so a partial last
    // round would move the per-operation figures
    while ((i < target && t.now() < ctx.cap) || i % Kinds.size != 0) {
      ops += op(i.toLong, Kinds(i % Kinds.size),
        plant = ctx.args.plantWrong && i == 0)
      i += 1
    }
    ctx.end()

    val good = ops.filter(_.ok)
    val n = math.max(1, ops.size).toDouble
    ctx.set("api.register_ms", Stats.mean(ops.map(_.registerMs)))
    ctx.set("api.start_ms", Stats.mean(ops.map(_.startMs)))
    ctx.set("api.stop_ms", Stats.mean(ops.map(_.stopMs)))
    ctx.set("historical.windows", ops.map(_.windows).sum / n)
    ctx.set("historical.frames", ops.map(_.frames).sum / n)
    ctx.set("http.frames", ops.map(_.frames).sum / n)
    ctx.set("http.bytes", ops.map(_.bytes).sum / n)
    ctx.set("http.lagged", ops.map(_.lagged).sum.toDouble)
    ctx.set("storage.files", logFiles)
    ctx.set("storage.log_bytes_per_quad", logBytes.toDouble / log.size)
    if (t.enabled) {
      t.settle()
      val perOp = ops.map(o => o -> t.jobsIn(o.start, o.end))
      // pruning matters on the kinds that read a slice of the log
      val sliced = perOp.filter(p => p._1.kind == "narrow" || p._1.kind == "outlier")
      val read = sliced.map(_._2.map(_.recordsRead).sum).sum
      ctx.set("storage.useful_ratio",
        sliced.map(_._1.windowRecords).sum.toDouble / math.max(1L, read))
      val delivery = perOp.flatMap { case (o, jobs) =>
        val ends = jobs.map(j => t.jobInterval(j)._2).filter(_ <= o.lastFrame)
        if (ends.isEmpty || o.frames == 0) None else Some(o.lastFrame - ends.max)
      }
      ctx.set("http.delivery_ms", Stats.mean(delivery))
    }
    // The kinds cost very different amounts, so a median over single
    // queries sits on the edge between two kinds' clusters and jumps
    // between them from run to run. The gated latency is therefore the
    // time of one round: one query of each kind, in rotation order.
    val rounds = ops.grouped(Kinds.size).filter(r =>
      r.size == Kinds.size && r.forall(_.ok)).map(_.map(_.histMs).sum).toSeq
    val perQuery = good.map(_.histMs).toSeq
    val (qTailQ, qTail) =
      if (perQuery.isEmpty) (1.0, Double.NaN) else Stats.tail(perQuery)
    Outcome(
      attempted = ops.size, failed = ops.count(!_.ok),
      latencyName = "hist_round_ms", latencies = rounds,
      throughputName = "queries_per_s", throughputUnit = "1/s",
      throughput = good.size / ctx.seconds,
      gapIntervals = ops.map(o => (o.start, o.end)).toSeq,
      named = Seq(
        ("hist_ms_p50", if (perQuery.isEmpty) Double.NaN
          else Stats.median(perQuery), s"ms (n=${perQuery.size})"),
        ("hist_ms_tail", qTail, f"ms (p${qTailQ * 100}%.4g)"),
        ("hist_first_ms_p50", if (good.isEmpty) Double.NaN
          else Stats.median(good.map(_.firstMs).toSeq), "ms"),
        ("log_bytes_per_quad", logBytes.toDouble / log.size, "B")))
  }

  /** Records with a timestamp in `[from, to]`: what an ideal reader
    * would touch for the window. */
  private def recordsIn(from: Long, to: Long): Long =
    log.count(r => r.ts >= from && r.ts <= to).toLong

  private def op(id: Long, kind: String, plant: Boolean): Op = {
    val qid = if (id < 0) s"warm${-id}" else s"q$id"
    val (from, to) = kindWindows(kind)
    val windows = if (kind == "sliding") (OffsetMs / StepMs + 1).toInt else 1
    val base = s"/api/queries/$qid"
    val opStart = t.now()
    var frames = Vector.empty[(Double, String)]
    var lagged = 0
    var bytes = 0L
    var ok = false
    var tStart0, tStart1, regMs, startMs, stopMs = 0.0
    // the server samples `now` from the wall clock inside the start
    // call; bracket it with the same clock, not the tracer's
    var wall0, wall1 = 0L
    t.span(s"op.$kind", id) {
      try {
        val reg = t.span("http.register", id) {
          net.request("POST", "/api/queries",
            s"""{"query_id":${jstr(qid)},"janusql":${jstr(query(kind, from, to))}}""")
        }
        regMs = t.now() - opStart
        require(reg.status == 201, s"register: ${reg.status} ${reg.body}")
        wall0 = System.currentTimeMillis()
        tStart0 = t.now()
        val st = t.span("http.start", id) {
          net.request("POST", s"$base/start")
        }
        tStart1 = t.now()
        wall1 = System.currentTimeMillis()
        startMs = tStart1 - tStart0
        require(st.status == 200, s"start: ${st.status} ${st.body}")
        val ws = t.span("ws.subscribe", id)(net.subscribe(s"$base/results"))
        try {
          val deadline = t.now() + FrameTimeoutMs
          val sub = t.now()
          while (frames.size < windows && t.now() < deadline) {
            ws.next((deadline - t.now()).toLong.max(1)).foreach { f =>
              if (f.contains("\"lagged\"")) lagged += 1
              else frames :+= ((t.now(), f))
            }
          }
          t.record("ws.frames", id, sub, t.now())
          bytes = ws.bytes
        } finally ws.close()
        ok = check(kind, from, to, frames.map(_._2), wall0, wall1, windows,
          plant)
      } catch {
        case e: Exception =>
          System.err.println(s"perfbench: $qid ($kind) failed: $e")
      } finally {
        val s0 = t.now()
        t.span("http.stop", id)(net.request("POST", s"$base/stop"))
        stopMs = t.now() - s0
        t.span("http.delete", id)(net.request("DELETE", base))
      }
    }
    val lastFrame = frames.lastOption.map(_._1).getOrElse(Double.NaN)
    val windowRecords =
      if (kind == "sliding") recordsIn(wall0 - OffsetMs, wall0)
      else recordsIn(from, to)
    Op(kind, opStart, t.now(), ok && frames.size == windows,
      lastFrame - opStart, frames.headOption.map(_._1 - tStart0)
        .getOrElse(Double.NaN), frames.size, lastFrame, windowRecords,
      windows, bytes, lagged, regMs, startMs, stopMs)
  }

  /** Frames against the oracle. The sliding kind's windows hang off the
    * `now` the server samples inside the start call, somewhere in
    * `[nowLo, nowHi]`; its data sits on a grid coarser than that
    * interval, so at most two answers are possible and either is
    * accepted. */
  private def check(kind: String, from: Long, to: Long,
      frames: Vector[String], nowLo: Long, nowHi: Long, windows: Int,
      plant: Boolean): Boolean = {
    if (frames.size != windows) {
      System.err.println(s"perfbench: $kind: ${frames.size} of $windows frames")
      return false
    }
    val got = frames.map { f =>
      val node = json.readTree(f)
      require(node.get("source").asText == "Historical", s"source of $f")
      Oracle.wireRows(node.get("bindings").elements().asScala.map { b =>
        b.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      }.toVector)
    }
    val candidates: Seq[Vector[Oracle.Rows]] = kind match {
      case "narrow"  => Seq(Vector(Oracle.fixedReadings(log, from, to)))
      case "wide"    => Seq(Vector(Oracle.fixedAvgCount(log, from, to)))
      case "outlier" =>
        Seq(Vector(Oracle.fixedOutliers(log, from, to, 50, 8, 3)))
      case "sliding" =>
        // answers change only where `now` crosses the data's grid phase
        val phase = Math.floorMod(log.last.ts, GridMs)
        val crossings = (nowLo to nowHi).filter(n =>
          Math.floorMod(n, GridMs) == phase).flatMap(n => Seq(n - 1, n))
        (Seq(nowLo, nowHi) ++ crossings).distinct.map(now =>
          Oracle.slidingAvg(log, now, OffsetMs, RangeMs, StepMs)).distinct
    }
    val expected =
      if (plant) candidates.map(c => c.updated(0, Oracle.plant(c(0))))
      else candidates
    val ok = expected.contains(got)
    if (!ok) System.err.println(s"perfbench: $kind: result differs from oracle" +
      s" (first frame ${got.headOption.map(_.take(3))} vs " +
      s"${expected.head.headOption.map(_.take(3))})")
    ok
  }
}
