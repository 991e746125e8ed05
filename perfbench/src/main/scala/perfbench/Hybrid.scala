package perfbench

import graft.api.{JanusApi, QueryRegistry}
import graft.core.RdfEvent
import graft.storage.EventLog

import java.nio.file.Path
import scala.collection.mutable

/** `hybrid_ingest`: writes beside reads, in the shape of
  * `ReplayBus.flush`. Each operation is one N-Quads batch that is
  * parsed, appended to the historical log (`EventLog.append`) and fed
  * through `addLiveEvents` to a hybrid query (`USING BASELINE …
  * AGGREGATE` plus a `janus:` anomaly FILTER) on the compiled live
  * engine (`JanusApi` with `scaleLiveLogFactory`). A batch spans one
  * window step of event time, so each fires one close. Every few
  * batches the query is stopped and a fresh one (the other FILTER rule)
  * started, so baseline warm-up keeps running over the growing log.
  * One query at a time: a batch already costs about a second. */
object Hybrid {
  // Sources: RANGE 5000 STEP 1000 is the live window of the reference's
  // hybrid query; one reading per sensor per second is the cadence of
  // its data generators, and 100 s of history is the length of its
  // sensors_historical.nq. The sensor count (which sets the batch size),
  // the anomaly and malformed shares and the restart period are this
  // benchmark's own choices (see README.md, "Where the rates and sizes
  // come from").
  val Sensors = 200
  val HistoryMs = 100000L
  val StepMs = 1000L
  val RangeMs = 5000L
  /** Readings per sensor per batch: a batch spans one STEP. */
  val PerSensor = 1
  val MalformedPer10k = 50
  val RestartEvery = 3
  /** Untimed rounds before the timed region: batch times still fell
    * by about a fifth over the first dozen batches. */
  val WarmupRounds = 4
  /** Timed rounds per second of `--seconds` (a round of three batches
    * and a restart took about 3 s on the 4-vCPU development host). */
  val RoundsPerSecond = 0.4
  val ReadyTimeoutMs = 60000L
  val Threshold = 25.0

  /** (FILTER, oracle predicate on (live, mean)). */
  val Rules: Vector[(String, (Double, Double) => Boolean)] = Vector(
    (s"janus:absolute_threshold_exceeded(?live, ?mean, ${Threshold.toInt})",
      (l, m) => math.abs(l - m) > Threshold),
    (s"janus:catch_up(?mean, ?live, ${Threshold.toInt})",
      (l, m) => m - l > Threshold))

  def query(rule: Int): String =
    s"""PREFIX ex: <http://example.org/>
       |PREFIX baseline: <https://janus.rs/baseline#>
       |PREFIX janus: <https://janus.rs/fn#>
       |REGISTER RStream ex:out AS
       |SELECT ?sensor ?live ?hist ?mean
       |FROM NAMED WINDOW ex:hist ON LOG ex:store [START 0 END 4000000000000]
       |FROM NAMED WINDOW ex:live ON STREAM ex:feed [RANGE $RangeMs STEP $StepMs]
       |USING BASELINE ex:hist AGGREGATE
       |WHERE {
       |    WINDOW ex:hist { ?sensor ex:reading ?hist }
       |    WINDOW ex:live { ?sensor ex:reading ?live }
       |    ?sensor baseline:hist ?mean .
       |    FILTER(${Rules(rule)._1})
       |}""".stripMargin
}

final class Hybrid(ctx: Ctx) {
  import Hybrid._

  private val t = ctx.tracer

  /** One running hybrid query and its oracle state. */
  private final class Active(val id: String, rule: Int,
      val handle: JanusApi#QueryHandle, mean: Map[Int, Double]) {
    val sim = new Oracle.FireSim(RangeMs, StepMs, StepMs)
    val eval: Seq[Reading] => Oracle.Rows =
      Oracle.anomalies(mean, Rules(rule)._2)
  }

  private final class Stack(spark: org.apache.spark.sql.SparkSession,
      dir: Path) {
    val hist = new EventLog(spark, dir.resolve("hist").toString)
    var content: Vector[Reading] = Vector.empty
    val api = new JanusApi(spark, new QueryRegistry(), _ => hist.read(),
      scaleLiveLogFactory = Some(id => new EventLog(spark,
        dir.resolve("live").resolve(id).toString, bucketMs = StepMs)))
  }

  // per-layer accumulators
  private var lines, rejected, parseWrong, quads = 0L
  private var parseMs = 0.0
  private val appendMs = mutable.ArrayBuffer.empty[Double]
  private val calls = mutable.ArrayBuffer.empty[(Double, Double, Int)]
  private val waits = mutable.ArrayBuffer.empty[Double]
  private val regMs, startMs, stopMs, readyMs, warmupMs =
    mutable.ArrayBuffer.empty[Double]
  private var fires, emptyFires = 0L
  private val markers = mutable.Set.empty[String]

  def run(): Outcome = {
    val spark = ctx.session()
    val work = ctx.args.work

    val stack = new Stack(spark, work.resolve("main"))
    seed(spark, stack)
    ctx.mark("log")
    var active = start(stack, "h0", 0, -1L)
    val r = Gen.rng(ctx.args.seed, 41)
    val ops = mutable.ArrayBuffer.empty[(Double, Double, Boolean)]
    var j = 0
    var restarts = 0
    // One round: RestartEvery batches, then the query is replaced by a
    // fresh one. Warm-up and the timed region run whole rounds, so every
    // run spends the same share of its time on baseline warm-up.
    def round(timed: Boolean): Unit = {
      (0 until RestartEvery).foreach { _ =>
        val a = t.now()
        val ok = batch(spark, stack, active, if (timed) j.toLong else -1L - j,
          r, j, plant = timed && ctx.args.plantWrong && ops.isEmpty)
        if (timed) ops += ((a, t.now(), ok))
        j += 1
      }
      restarts += 1
      active = restart(stack, active, s"h$restarts", restarts % Rules.size,
        -100L - restarts)
    }
    // warm-up: the first rounds of the same input, verified but untimed
    (0 until WarmupRounds).foreach(_ => round(timed = false))
    regMs.clear(); startMs.clear(); stopMs.clear(); readyMs.clear()
    warmupMs.clear(); appendMs.clear(); calls.clear(); waits.clear()
    lines = 0; rejected = 0; parseWrong = 0; quads = 0; parseMs = 0
    fires = 0; emptyFires = 0
    ctx.mark("warm-up")
    val warmMarkers = Meter.compactionMarkers(work.resolve("main"))

    ctx.begin()
    val target = ctx.timedUnits(RoundsPerSecond)
    var done = 0
    while (done < target && t.now() < ctx.cap) { round(timed = true); done += 1 }
    ctx.end()
    stack.api.stopQuery(active.id)

    val n = math.max(1, ops.size).toDouble
    val (bytes, files) = Meter.diskUsage(work.resolve("main"))
    val (histBytes, _) = Meter.diskUsage(work.resolve("main").resolve("hist"))
    ctx.set("parsing.lines", lines / n)
    ctx.set("parsing.busy_ms", parseMs / n)
    ctx.set("parsing.rejected_ratio", rejected.toDouble / math.max(1L, lines))
    ctx.set("api.register_ms", Stats.mean(regMs))
    ctx.set("api.start_ms", Stats.mean(startMs))
    ctx.set("api.stop_ms", Stats.mean(stopMs))
    ctx.set("api.result_wait_ms", Stats.mean(waits))
    ctx.set("storage.appends", appendMs.size / n)
    ctx.set("storage.append_ms", Stats.mean(appendMs))
    ctx.set("storage.files", files)
    ctx.set("storage.compactions", (markers -- warmMarkers).size)
    ctx.set("storage.log_bytes_per_quad",
      histBytes.toDouble / math.max(1, stack.content.size))
    ctx.set("streaming.fires", fires)
    ctx.set("streaming.add_ms", Stats.mean(calls.map(c => c._2 - c._1)))
    val firing = calls.filter(_._3 > 0)
    ctx.set("streaming.fire_ms",
      firing.map(c => c._2 - c._1).sum / math.max(1, firing.map(_._3).sum))
    ctx.set("streaming.empty_fire_ratio",
      emptyFires.toDouble / math.max(1L, fires))
    ctx.set("baseline.warmup_ms", Stats.mean(warmupMs))
    val good = ops.filter(_._3)
    Outcome(
      attempted = ops.size,
      failed = ops.count(!_._3),
      latencyName = "batch_ms", latencies = good.map(o => o._2 - o._1).toSeq,
      throughputName = "ingest_quads_per_s", throughputUnit = "quads/s",
      throughput = quads / ctx.seconds,
      gapIntervals = ops.map(o => (o._1, o._2)).toSeq,
      named = Seq(
        ("baseline_ready_ms_p50",
          if (readyMs.isEmpty) Double.NaN else Stats.median(readyMs.toSeq), s"ms (n=${readyMs.size})"),
        ("log_bytes_per_quad", histBytes.toDouble / stack.content.size, "B"),
        ("disk_bytes", bytes.toDouble, "B")))
  }

  private def seed(spark: org.apache.spark.sql.SparkSession, s: Stack): Unit = {
    s.content = Gen.hybridHistory(ctx.args.seed, Sensors, HistoryMs)
    s.hist.appendBulk(RdfEvent.toDF(spark, s.content.map(toEvent)),
      parallelism = ctx.cpus)
  }

  private def toEvent(r: Reading) = RdfEvent(r.ts, Gen.sensorIri(r.sensor),
    r.predicate, r.value.toString, Gen.Feed)

  /** register → start → wait for `Running` (baseline warm-up done). */
  private def start(s: Stack, id: String, rule: Int, op: Long): Active = {
    val a = t.now()
    t.span("api.register", op)(s.api.registerQuery(id, query(rule)))
    val b = t.now()
    val h = t.span("api.start", op)(s.api.startQuery(id))
    val c = t.now()
    val mean = Oracle.baseline(s.content)
    val deadline = c + ReadyTimeoutMs
    t.span("baseline.wait", op) {
      while (h.status != JanusApi.ExecutionStatus.Running &&
        !h.status.isInstanceOf[JanusApi.ExecutionStatus.Failed] &&
        t.now() < deadline) Thread.sleep(1)
    }
    require(h.status == JanusApi.ExecutionStatus.Running,
      s"$id did not reach Running: ${h.status}")
    val d = t.now()
    regMs += b - a; startMs += c - b; readyMs += d - b; warmupMs += d - c
    new Active(id, rule, h, mean)
  }

  private def restart(s: Stack, old: Active, id: String, rule: Int,
      op: Long): Active =
    t.span("op.restart", op) {
      val a = t.now()
      t.span("api.stop", op) {
        s.api.stopQuery(old.id)
        s.api.unregisterQuery(old.id)
      }
      stopMs += t.now() - a
      start(s, id, rule, op)
    }

  /** One operation; true when every close it fired matched the oracle. */
  private def batch(spark: org.apache.spark.sql.SparkSession, s: Stack,
      q: Active, op: Long, r: java.util.SplittableRandom, j: Int,
      plant: Boolean = false): Boolean = t.span("op.batch", op) {
    val input = Gen.hybridBatch(r, HistoryMs + j * StepMs + StepMs / 2,
      StepMs, Sensors, PerSensor, MalformedPer10k)
    val p0 = t.now()
    val parsed = t.span("parsing.parse", op)(Parsed.of(input))
    parseMs += t.now() - p0
    lines += input.size
    rejected += parsed.rejected
    parseWrong += parsed.wrong
    var ok = parsed.wrong == 0
    val evs = parsed.events
    val rds = parsed.readings
    val a0 = t.now()
    t.span("storage.append", op)(s.hist.append(RdfEvent.toDF(spark, evs)))
    appendMs += t.now() - a0
    s.content ++= rds
    quads += rds.size
    val a = t.now()
    t.span("streaming.add", op)(q.handle.addLiveEvents(Gen.Feed, evs))
    val b = t.now()
    val fired = q.sim.add(rds).filter(_._2.nonEmpty)
    calls += ((a, b, fired.size))
    val got = t.span("api.receive", op) {
      Iterator.continually(q.handle.tryReceive()).takeWhile(_.isDefined)
        .flatten.filter(_.source == JanusApi.ResultSource.Live).toVector
    }
    waits += t.now() - b
    val gotBy = got.groupBy(_.timestamp).map { case (c, rs) =>
      c -> Oracle.rows(rs.flatMap(_.bindings)) }
    val expected = fired.map { case (c, w) => c -> q.eval(w) }
      .filter(_._2.nonEmpty).toMap
    fires += fired.size
    emptyFires += fired.count(f => q.eval(f._2).isEmpty)
    val exp =
      if (plant && expected.nonEmpty) {
        val c = expected.keys.min
        expected.updated(c, Oracle.plant(expected(c)))
      } else expected
    if (gotBy != exp) {
      ok = false
      System.err.println(s"perfbench: hybrid ${q.id} batch $op: closes " +
        s"${gotBy.keys.toSeq.sorted} vs expected ${exp.keys.toSeq.sorted}, " +
        s"rows ${gotBy.values.map(_.size).sum} vs ${exp.values.map(_.size).sum}")
    }
    if (t.enabled) markers ++= Meter.compactionMarkers(ctx.args.work.resolve("main"))
    ok
  }
}
