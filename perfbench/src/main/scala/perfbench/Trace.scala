package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A timed call around one layer's public function. Times are epoch
  * milliseconds with sub-millisecond precision. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** One Spark job as Spark's own listener reports it. */
final class JobRec(val id: Int, val start: Double) {
  @volatile var end: Double = Double.NaN
  var stages = 0
  var tasks = 0
  var taskMs = 0.0
  var schedulerDelayMs = 0.0
  var recordsRead = 0L
  var bytesRead = 0L
  var shuffleBytes = 0L
}

/** Catalyst phase times of one Dataset action. */
final case class PlanRec(at: Double, analysisMs: Double,
    optimizationMs: Double, planningMs: Double)

/** Span recorder plus Spark's public listeners. Disabled, it records
  * nothing and `span` is a plain call: the untraced runs that give the
  * end-to-end numbers pay only a branch. */
final class Tracer(val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis().toDouble

  /** Epoch ms, monotonic within the run. */
  def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, op: Long)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = now()
      try f
      finally {
        spans.add(Span(id, parent, op, name, t0, now()))
        stack.set(stack.get.tail)
      }
    }

  /** A span measured elsewhere (e.g. a frame arrival window). */
  def record(name: String, op: Long, start: Double, end: Double): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(),
      stack.get.headOption.getOrElse(0L), op, name, start, end))

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val rec = new JobRec(e.jobId, e.time.toDouble)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, rec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(r =>
        r.synchronized(r.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { r =>
        val m = e.taskMetrics
        val info = e.taskInfo
        r.synchronized {
          r.tasks += 1
          if (m != null) {
            r.taskMs += m.executorRunTime
            r.schedulerDelayMs += math.max(0L, info.duration -
              m.executorRunTime - m.executorDeserializeTime -
              m.resultSerializationTime)
            r.recordsRead += m.inputMetrics.recordsRead
            r.bytesRead += m.inputMetrics.bytesRead
            r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
  }

  private object planListener extends QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      plans.add(PlanRec(now(), ms("analysis"), ms("optimization"),
        ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception)
        : Unit = add(qe)
  }

  /** Attach the listeners (traced runs only). */
  def install(spark: SparkSession): Unit =
    if (enabled) {
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
    }

  /** Listener events arrive asynchronously; give the bus time to
    * deliver the last ones before reading. */
  def settle(): Unit = if (enabled) Thread.sleep(1000)

  def jobsIn(from: Double, to: Double): Seq[JobRec] =
    jobs.values.asScala.toSeq.filter(j => j.start >= from && j.start <= to)
      .sortBy(_.start)

  def plansIn(from: Double, to: Double): Seq[PlanRec] =
    plans.asScala.toSeq.filter(p => p.at >= from && p.at <= to)

  def jobInterval(j: JobRec): (Double, Double) =
    (j.start, if (j.end.isNaN) j.start else j.end)

  /** Write every span (and every job as a `spark.job` span) as JSON
    * lines. */
  def writeSpans(path: java.nio.file.Path, from: Double, to: Double): Unit =
    if (enabled) {
      val w = java.nio.file.Files.newBufferedWriter(path)
      try {
        spans.asScala.toSeq.sortBy(_.start).foreach { s =>
          w.write(f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
            f""""name":"${s.name}","start":${s.start}%.3f,"end":${s.end}%.3f}""")
          w.newLine()
        }
        jobsIn(from, to).foreach { j =>
          val (a, b) = jobInterval(j)
          w.write(f"""{"job":${j.id},"name":"spark.job","start":$a%.3f,""" +
            f""""end":$b%.3f,"stages":${j.stages},"tasks":${j.tasks}}""")
          w.newLine()
        }
      } finally w.close()
    }

  /** Self time per operation kind: every root span `op.<kind>` with its
    * descendants, Spark jobs hung under the deepest span of the same
    * operation that contains their start. A span's self time is its
    * duration minus the part its children cover. */
  def selfTimeReport(from: Double, to: Double): String = {
    val all = spans.asScala.toSeq.filter(s => s.start >= from && s.end <= to)
    val byOp = all.groupBy(_.op)
    val jobIvs = jobsIn(from, to).map(jobInterval)
    final case class Acc(var n: Int = 0, var wall: Double = 0,
        var jobs: Double = 0,
        self: mutable.LinkedHashMap[String, Double] =
          mutable.LinkedHashMap.empty)
    val kinds = mutable.LinkedHashMap.empty[String, Acc]
    byOp.toSeq.sortBy(_._1).foreach { case (_, ss) =>
      ss.find(s => s.parent == 0 && s.name.startsWith("op.")).foreach {
        root =>
          val members = ss.filter(s => s.start >= root.start &&
            s.end <= root.end)
          val children = mutable.Map.empty[Long, Vector[(Double, Double)]]
            .withDefaultValue(Vector.empty)
          members.filter(_.id != root.id).foreach(s =>
            children(s.parent) = children(s.parent) :+ ((s.start, s.end)))
          // jobs: child of the deepest (shortest) containing span
          val jobsHere = jobIvs.filter { case (a, _) =>
            a >= root.start && a <= root.end }
          jobsHere.foreach { case (a, b) =>
            val host = members.filter(s => s.start <= a && a <= s.end)
              .minBy(_.ms)
            children(host.id) = children(host.id) :+ ((a, b))
          }
          val acc = kinds.getOrElseUpdate(root.name, Acc())
          acc.n += 1
          acc.wall += root.ms
          acc.jobs += Stats.unionLength(jobsHere.map { case (a, b) =>
            (math.max(a, root.start), math.min(b, root.end)) })
          members.foreach { s =>
            val self = Stats.uncovered((s.start, s.end), children(s.id))
            val key = if (s.id == root.id) "(unattributed)" else s.name
            acc.self(key) = acc.self.getOrElse(key, 0.0) + self
          }
          acc.self("spark.job") = acc.self.getOrElse("spark.job", 0.0) +
            Stats.unionLength(jobsHere)
      }
    }
    val sb = new StringBuilder("self time by operation kind (mean ms per operation):\n")
    kinds.foreach { case (kind, a) =>
      sb ++= f"  $kind%-22s n=${a.n}%-5d wall ${a.wall / a.n}%9.1f  " +
        f"spark-jobs ${a.jobs / a.n}%9.1f  driver-gap ${(a.wall - a.jobs) / a.n}%9.1f\n"
      a.self.toSeq.sortBy(-_._2).foreach { case (name, v) =>
        sb ++= f"      $name%-24s self ${v / a.n}%9.1f\n"
      }
    }
    sb.toString
  }
}
