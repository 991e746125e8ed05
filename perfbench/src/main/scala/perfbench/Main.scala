package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, out: Path, tag: String, plantWrong: Boolean)

/** What one workload run hands back to [[Main]].
  *
  * @param latencies the workload's primary latency samples (ms) of
  *   operations that passed the oracle
  * @param throughput work completed per second of the timed region
  * @param gapIntervals operation intervals whose time outside Spark
  *   jobs is `driver.gap_ms`
  * @param named end-to-end metrics under their per-workload names, for
  *   the summary (the gated metrics are derived from the fields
  *   above)
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    latencyName: String,
    latencies: Seq[Double],
    throughputName: String,
    throughputUnit: String,
    throughput: Double,
    gapIntervals: Seq[(Double, Double)],
    named: Seq[(String, Double, String)])

/** Per-run context: arguments, tracer, timed-region bookkeeping and
  * the per-layer values a workload reports. */
final class Ctx(val args: Args, val tracer: Tracer) {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(4)
  var from: Double = Double.NaN
  var to: Double = Double.NaN
  private var cpu0, jit0, gc0 = 0L
  private var host0: Array[Long] = Array.empty
  /** Process CPU over the timed region, and the part of it spent by
    * the JIT compiler threads. */
  var cpuMs, jitMs, gcMs, stealRatio, load1 = 0.0

  val layers: mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap(Layers.All.map(_._1 -> 0.0): _*)

  def set(name: String, v: Double): Unit = {
    require(layers.contains(name), s"undeclared per-layer metric $name")
    layers(name) = if (v.isNaN || v.isInfinite) 0.0 else v
  }

  def begin(): Unit = {
    cpu0 = Meter.cpuNanos(); jit0 = Meter.jitCpuNanos()
    gc0 = Meter.gcMillis(); host0 = Meter.procStat()
    from = tracer.now()
  }

  def end(): Unit = {
    to = tracer.now()
    cpuMs = (Meter.cpuNanos() - cpu0) / 1e6
    jitMs = (Meter.jitCpuNanos() - jit0) / 1e6
    gcMs = (Meter.gcMillis() - gc0).toDouble
    val host1 = Meter.procStat()
    if (host0.length >= 8 && host1.length >= 8) {
      val d = host1.zip(host0).map { case (a, b) => a - b }
      stealRatio = d(7).toDouble / math.max(1L, d.sum)
    }
    load1 = Meter.load1()
  }

  def seconds: Double = (to - from) / 1000

  /** Set-up progress on stderr: where set-up time goes. */
  def mark(step: String): Unit = System.err.println(f"perfbench setup: " +
    f"$step%-12s at ${(tracer.now() - Main.jvmStart) / 1000}%.2f s")

  /** Session shaped like the one `graft.Main serve` builds, so all
    * three workloads run the engine under the same settings. */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tracer.install(s)
    mark("session")
    s
  }

  /** Deadline of the timed region (live's open loop runs by the clock). */
  def deadline: Double = from + args.seconds * 1000.0

  /** Operations in a timed region of fixed work: `perSecond` is a
    * workload's rate on the development host, fixed once, so every run
    * of a given `--seconds` does the same operations however fast the
    * host is; a count that follows the clock would shift each run's
    * median with the host's speed and with how far the JIT has got. */
  def timedUnits(perSecond: Double): Int =
    math.max(1, math.round(args.seconds * perSecond).toInt)

  /** Hard stop for a fixed-work region on a very slow host. */
  def cap: Double = from + Ctx.CapFactor * args.seconds * 1000.0
}

object Ctx {
  /** A fixed-work region stops at this many times `--seconds`. */
  val CapFactor = 4
}

object Meter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNanos(): Long = os.getProcessCpuTime

  /** CPU time of the JIT compiler threads (ns), from /proc/self/task,
    * or 0 without /proc. Their number is fixed for the JVM's life
    * (run.py turns off dynamic compiler threads), so no compiler
    * thread's time is lost by its exit; other threads may exit while
    * the list is read, and are skipped. */
  def jitCpuNanos(): Long = {
    def compilerNanos(task: Path): Long =
      try {
        if (!Files.readString(task.resolve("comm")).trim
            .matches("C[12] Compiler.*")) 0L
        else {
          // after the command name: state is [0], utime [11], stime [12]
          val stat = Files.readString(task.resolve("stat"))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) * 10000000L // USER_HZ = 100
        }
      } catch { case _: Exception => 0L }
    try {
      val tasks = Files.list(Paths.get("/proc/self/task"))
      try tasks.iterator().asScala.map(compilerNanos).sum
      finally tasks.close()
    } catch { case _: Exception => 0L }
  }

  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  /** Aggregate `cpu` line of /proc/stat (user … steal), or empty. */
  def procStat(): Array[Long] =
    try {
      val first = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      first.split("\\s+").drop(1).take(8).map(_.toLong)
    } catch { case _: Exception => Array.empty }

  def load1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => 0.0 }

  /** Heap in use after a full collection, MiB: the least of three
    * tries, so what another thread allocates between a collection and
    * the reading does not count. */
  def heapAfterGc(): Double =
    (1 to 3).map { _ =>
      Thread.sleep(100)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  /** Bytes and parquet data files on disk under `dir`. */
  def diskUsage(dir: Path): (Long, Int) =
    if (!Files.exists(dir)) (0L, 0)
    else {
      val files = Files.walk(dir).iterator().asScala
        .filter(Files.isRegularFile(_)).toVector
      val data = files.filter(_.getFileName.toString.endsWith(".parquet"))
      (data.map(Files.size).sum, data.size)
    }

  /** Compaction markers the log committed (`_compact-*.json`). */
  def compactionMarkers(dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else Files.walk(dir).iterator().asScala
      .map(_.toString).filter(p =>
        p.contains(graft.storage.EventLog.CompactMarkerPrefix) &&
          p.endsWith(".json")).toSet
}

/** Declared per-layer metrics (name, unit), in BENCHMARK.json order.
  * Counts and times are per operation unless the name says otherwise. */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "parsing.lines" -> "count", "parsing.busy_ms" -> "ms",
    "parsing.rejected_ratio" -> "ratio",
    "api.register_ms" -> "ms", "api.start_ms" -> "ms", "api.stop_ms" -> "ms",
    "api.result_wait_ms" -> "ms",
    "catalyst.actions" -> "count", "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.job_wall_ms" -> "ms",
    "spark.task_ms" -> "ms", "spark.scheduler_delay_ms" -> "ms",
    "spark.shuffle_bytes" -> "B",
    "driver.gap_ms" -> "ms",
    "storage.appends" -> "count", "storage.append_ms" -> "ms",
    "storage.compactions" -> "count", "storage.files" -> "count",
    "storage.records_read" -> "count", "storage.bytes_read" -> "B",
    "storage.useful_ratio" -> "ratio", "storage.log_bytes_per_quad" -> "B",
    "historical.windows" -> "count", "historical.frames" -> "count",
    "streaming.fires" -> "count", "streaming.add_ms" -> "ms",
    "streaming.fire_ms" -> "ms", "streaming.empty_fire_ratio" -> "ratio",
    "streaming.dropped" -> "count", "streaming.buffered_events" -> "count",
    "baseline.warmup_ms" -> "ms",
    "http.frames" -> "count", "http.bytes" -> "B", "http.lagged" -> "count",
    "http.delivery_ms" -> "ms",
    "gen.late_ms_p50" -> "ms", "gen.late_ms_tail" -> "ms",
    "gen.backlog_max" -> "count",
    "jvm.gc_ms" -> "ms",
    "host.steal_ratio" -> "ratio", "host.load1" -> "procs")
}

object Main {

  /** End-to-end metrics (name, unit), in BENCHMARK.json order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_ms_p50" -> "ms", "throughput_per_s" -> "1/s",
    "cpu_ms_per_op" -> "ms", "heap_mb" -> "MiB", "log_bytes_per_quad" -> "B")

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      m.get("--trace").contains("1"), Paths.get(need("--work")),
      Paths.get(need("--out")), m.getOrElse("--tag", "run"),
      argv.contains("--plant-wrong"))
  }

  val jvmStart: Double =
    ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val ctx = new Ctx(args, new Tracer(args.trace))
    val o = args.workload match {
      case "historical"    => new Historical(ctx).run()
      case "live"          => new Live(ctx).run()
      case "hybrid_ingest" => new Hybrid(ctx).run()
      case w               => sys.error(s"unknown workload $w")
    }
    val heap = Meter.heapAfterGc()
    val ops = math.max(1L, o.attempted).toDouble
    val (tailQ, tailV) =
      if (o.latencies.isEmpty) (1.0, Double.NaN) else Stats.tail(o.latencies)
    val e2e = Seq(
      "setup_s" -> (ctx.from - jvmStart) / 1000,
      "op_ms_p50" -> (if (o.latencies.isEmpty) Double.NaN
                      else Stats.median(o.latencies)),
      "throughput_per_s" -> o.throughput,
      // the program's own threads: JIT compilation is left out, because
      // how much of it lands in the timed region is a matter of timing
      "cpu_ms_per_op" -> (ctx.cpuMs - ctx.jitMs) / ops,
      "heap_mb" -> heap,
      "log_bytes_per_quad" -> o.named.find(_._1 == "log_bytes_per_quad")
        .fold(Double.NaN)(_._2))
    commonLayers(ctx, o, ops)

    val tail = f"p${tailQ * 100}%.4g"
    val named = Seq(
      (s"${o.latencyName}_p50", e2e(1)._2, "ms"),
      (s"${o.latencyName}_tail", tailV, s"ms ($tail of ${o.latencies.size})"),
      (o.throughputName, o.throughput, o.throughputUnit),
      ("failed_ratio", o.failed / ops, "ratio"),
      ("process_cpu_ms_per_op", ctx.cpuMs / ops, "ms (JIT included)"),
      ("jit_cpu_ms_per_op", ctx.jitMs / ops, "ms")) ++
      o.named.filter(_._1 != "log_bytes_per_quad")
    val summary = summaryJson(args, o, e2e, named, tail, ctx)
    Files.createDirectories(args.out)
    Files.writeString(args.out.resolve(s"${args.tag}.summary.json"), summary)
    if (args.trace) {
      ctx.tracer.writeSpans(args.out.resolve(s"${args.tag}.spans.jsonl"),
        ctx.from, ctx.to)
      Files.writeString(args.out.resolve(s"${args.tag}.selftime.txt"),
        ctx.tracer.selfTimeReport(ctx.from, ctx.to))
    }
    // human-readable lines first; the result object is the last line
    println(f"perfbench ${args.workload} seed=${args.seed} " +
      f"tag=${args.tag} attempted=${o.attempted} failed=${o.failed} " +
      f"steal=${ctx.stealRatio}%.3f load1=${ctx.load1}%.2f")
    named.foreach { case (n, v, u) => println(f"  $n%-26s $v%12.4f $u") }
    val metrics =
      if (args.trace) Layers.All.map { case (n, u) => (n, ctx.layers(n), u) }
      else EndToEnd.map { case (n, u) => (n, e2e.toMap.apply(n), u) }
    val body = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${o.failed == 0},"attempted":${o.attempted},""" +
      s""""failed":${o.failed},"metrics":{$body}}""")
    System.out.flush()
    // serve's request threads and Spark's own are not ours to join:
    // leave the JVM at once
    Runtime.getRuntime.halt(0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** Layers measured the same way on every workload: Spark's listeners
    * over the timed region, JVM and host counters. */
  private def commonLayers(ctx: Ctx, o: Outcome, ops: Double): Unit = {
    val t = ctx.tracer
    ctx.set("jvm.gc_ms", ctx.gcMs / ops)
    ctx.set("host.steal_ratio", ctx.stealRatio)
    ctx.set("host.load1", ctx.load1)
    if (t.enabled) {
      t.settle()
      val jobs = t.jobsIn(ctx.from, ctx.to)
      val plans = t.plansIn(ctx.from, ctx.to)
      ctx.set("catalyst.actions", plans.size / ops)
      ctx.set("catalyst.analysis_ms", plans.map(_.analysisMs).sum / ops)
      ctx.set("catalyst.optimization_ms",
        plans.map(_.optimizationMs).sum / ops)
      ctx.set("catalyst.planning_ms", plans.map(_.planningMs).sum / ops)
      ctx.set("spark.jobs", jobs.size / ops)
      ctx.set("spark.stages", jobs.map(_.stages).sum / ops)
      ctx.set("spark.tasks", jobs.map(_.tasks).sum / ops)
      ctx.set("spark.job_wall_ms", jobs.map { j =>
        val (a, b) = t.jobInterval(j); b - a }.sum / ops)
      ctx.set("spark.task_ms", jobs.map(_.taskMs).sum / ops)
      ctx.set("spark.scheduler_delay_ms", jobs.map(_.schedulerDelayMs).sum / ops)
      ctx.set("spark.shuffle_bytes", jobs.map(_.shuffleBytes).sum / ops)
      ctx.set("storage.records_read", jobs.map(_.recordsRead).sum / ops)
      ctx.set("storage.bytes_read", jobs.map(_.bytesRead).sum / ops)
      val ivs = jobs.map(t.jobInterval)
      if (o.gapIntervals.nonEmpty)
        ctx.set("driver.gap_ms", o.gapIntervals.map(Stats.uncovered(_, ivs))
          .sum / o.gapIntervals.size)
    }
  }

  private def summaryJson(args: Args, o: Outcome,
      e2e: Seq[(String, Double)], named: Seq[(String, Double, String)],
      tail: String, ctx: Ctx): String = {
    def obj(kv: Seq[(String, Double, String)]) = kv.map { case (n, v, u) =>
      s""""$n":{"value":${num(v)},"unit":"${u.replace("\"", "'")}"}""" }
      .mkString("{", ",", "}")
    s"""{"workload":"${args.workload}","seed":${args.seed},""" +
      s""""tag":"${args.tag}","cpus":${ctx.cpus},""" +
      s""""attempted":${o.attempted},"failed":${o.failed},""" +
      s""""tail_percentile":"$tail","samples":${o.latencies.size},""" +
      s""""latencies_ms":${o.latencies.map(v => f"$v%.1f").mkString("[", ",", "]")},""" +
      s""""end_to_end":${obj(e2e.map { case (n, v) =>
        (n, v, EndToEnd.toMap.apply(n)) })},""" +
      s""""named":${obj(named)},""" +
      s""""per_layer":${obj(Layers.All.map { case (n, u) =>
        (n, ctx.layers(n), u) })}}"""
  }
}
