package graft.streaming

import graft.TestSpark
import graft.core.RdfEvent
import graft.storage.EventLog

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** The 100× fire-rate story at spec scale: a single catch-up micro-batch
  * that makes 600 (window, close) pairs due at once must evaluate as ONE
  * batched distributed job (plus a constant number of bookkeeping jobs),
  * not one job per fire, and the driver must hold window BOUNDARIES only
  * — no event rows, no per-fire buffers. Previous fixtures exercised the
  * batching with 2-window close counts; this pins the claim at the scale
  * DESIGN.md argues for. */
class LiveFireScaleSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val query =
    """PREFIX ex: <http://example.org/>
      |REGISTER RStream <out> AS
      |SELECT ?e ?a ?b
      |FROM NAMED WINDOW ex:wa ON STREAM ex:s [RANGE 200 STEP 100]
      |FROM NAMED WINDOW ex:wb ON STREAM ex:s [RANGE 200 STEP 100]
      |WHERE {
      |    WINDOW ex:wa { ?e ex:p1 ?a }
      |    WINDOW ex:wb { ?e ex:p2 ?b }
      |}""".stripMargin

  private val Stream = "http://example.org/s"

  /** Events every 10 ms: each event id carries a p1 and a p2 quad at the
    * same timestamp, so every fire's two window snapshots join 1:1. */
  private def quads(ids: Range): DataFrame =
    RdfEvent.toDF(spark, ids.flatMap { i =>
      val ts = i * 10L
      Seq(
        RdfEvent(ts, s"http://example.org/e$i", "http://example.org/p1",
          s"a$i", Stream),
        RdfEvent(ts, s"http://example.org/e$i", "http://example.org/p2",
          s"b$i", Stream))
    })

  test("600 due fires in one micro-batch: constant job count, flat " +
      "driver heap, correct per-fire slices") {
    // LAZY sink: records the slice and its span, evaluates nothing —
    // per-fire evaluation jobs would hide in the sink otherwise
    val fires = mutable.ArrayBuffer.empty[(Seq[Row], Long, Long)]
    val log = new EventLog(spark,
      Files.createTempDirectory("firescale").resolve("log").toString,
      bucketMs = 1000L)
    val cls = new CompiledLiveStream(spark, query, log,
      (rows, _, from, to) => fires += ((rows, from, to)))

    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val rt = Runtime.getRuntime
    System.gc()
    val heapBefore = rt.totalMemory() - rt.freeMemory()

    spark.sparkContext.addSparkListener(listener)
    try {
      // ids 1..3000 → maxTs 30000 → 300 closes per window → 600 fires
      cls.processBatch(quads(1 to 3000))
      // let the async listener bus drain before reading the counter
      Thread.sleep(2000)
    } finally spark.sparkContext.removeSparkListener(listener)

    assert(fires.size == 600, s"expected 600 fires, got ${fires.size}")
    // one combined evaluation + bounded bookkeeping (persist/count,
    // append, checkpoint, present-set collect) — NOT ~600 per-fire jobs
    val batchJobs = jobs.get()
    assert(batchJobs <= 15,
      s"600 fires should batch into one evaluation; saw $batchJobs jobs")

    System.gc()
    val heapAfter = rt.totalMemory() - rt.freeMemory()
    val growthMb = (heapAfter - heapBefore).toDouble / (1 << 20)
    assert(growthMb < 256.0,
      f"driver heap grew $growthMb%.0f MB across 600 fires — " +
        "boundaries-only bookkeeping should stay flat")

    // spans: each window fires at closes 100,200,...,30000 with width 200
    val spans = fires.map { case (_, f, t) => (f, t) }
    assert(spans.count { case (f, t) => t - f == 200 } == 600)
    assert(spans.map(_._2).distinct.sorted ==
      (100L to 30000L by 100L).toSeq)

    // spot-check slices (evaluated AFTER job counting): fire at close c
    // holds the events with ts in [c-200, c), joined p1×p2 per event id
    def rowsAt(c: Long): Set[(String, String, String)] =
      fires.filter(_._3 == c).head._1
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val at1000 = rowsAt(1000L)
    val expect1000 = (80 to 99).map(i =>
      (s"http://example.org/e$i", s"a$i", s"b$i")).toSet
    assert(at1000 == expect1000)
    // earliest fire: [−100, 100) → only the first 9 events (ts 10..90)
    assert(rowsAt(100L) == (1 to 9).map(i =>
      (s"http://example.org/e$i", s"a$i", s"b$i")).toSet)

    // steady state stays batched: a second catch-up batch (20 more due
    // fires) costs the same constant job count, independent of the 600
    // fires already processed
    jobs.set(0)
    spark.sparkContext.addSparkListener(listener)
    try {
      cls.processBatch(quads(3001 to 3100)) // maxTs 31000 → 10 closes/win
      Thread.sleep(2000)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(fires.size == 620, s"expected 620 total, got ${fires.size}")
    assert(jobs.get() <= 15,
      s"follow-up batch should stay constant-job; saw ${jobs.get()}")
  }

  test("single-group aggregate fires ride the driver channel: " +
      "consuming every fire frame afterwards costs ZERO Spark jobs") {
    // the reference's one-message-per-fire bus: an aggregate with no
    // GROUP BY emits ≤ 1 row per fire, so the engine collects the
    // fire-keyed result ONCE and hands the sink each fire's rows —
    // downstream reads must not schedule anything
    val aggQuery =
      """PREFIX ex: <http://example.org/>
        |REGISTER RStream <out> AS
        |SELECT (COUNT(?e) AS ?n)
        |FROM NAMED WINDOW ex:wa ON STREAM ex:s [RANGE 200 STEP 100]
        |WHERE {
        |    WINDOW ex:wa { ?e ex:p1 ?a }
        |}""".stripMargin
    val fires = mutable.ArrayBuffer.empty[(Seq[Row], Long, Long)]
    val log = new EventLog(spark,
      Files.createTempDirectory("firechan").resolve("log").toString,
      bucketMs = 1000L)
    val cls = new CompiledLiveStream(spark, aggQuery, log,
      (rows, _, from, to) => fires += ((rows, from, to)))
    cls.processBatch(quads(1 to 1000)) // 100 closes due at once
    assert(fires.size == 100, s"expected 100 fires, got ${fires.size}")

    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val counts = try {
      val r = fires.map { case (rows, _, to) => to -> rows.toArray }
      Thread.sleep(2000)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0,
      s"fire frames should be driver-local; consuming them scheduled " +
        s"${jobs.get()} jobs")
    // and they carry the right aggregates: close c covers [c-200, c),
    // events every 10 ms with one p1 quad each → 20 events per full
    // window (9 in the very first, 10 in the second)
    val byClose = counts.map { case (to, rows) =>
      to -> rows.head.getLong(rows.head.fieldIndex("n")) }.toMap
    assert(byClose(100L) == 9L && byClose(200L) == 19L &&
      byClose(1000L) == 20L && byClose(10000L) == 20L)
  }
}
