package graft.streaming

import graft.TestSpark
import graft.core.RdfEvent
import graft.storage.EventLog

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The live engine must produce EXACTLY the results of a
  * driver-buffered port of the reference's live path
  * ([[LiveStreamProcessing]]) — same fires, same bindings, same window
  * spans — while holding no events on the driver and keeping the
  * distributed log pruned. */
class CompiledLiveStreamSpec extends AnyFunSuite {

  import LiveFeed._

  private lazy val spark = TestSpark.spark

  /** The driver-buffered parity reference's results for an event feed. */
  private def parityOf(query: String, events: Seq[(String, RdfEvent)],
      static: Seq[RdfEvent] = Nil): Set[(Map[String, String], Long, Long)] = {
    val p = new LiveStreamProcessing(spark, query)
    p.addStaticData(static)
    events.foreach { case (s, e) => p.addEvent(s, e) }
    p.collectResults().toSet
  }

  /** Run the same event feed through both paths; return (parity results,
    * compiled results). */
  private def runBoth(query: String,
      batches: Seq[Seq[(String, RdfEvent)]],
      static: Seq[RdfEvent] = Nil)
      : (Set[(Map[String, String], Long, Long)],
         Set[(Map[String, String], Long, Long)]) =
    (parityOf(query, batches.flatten, static),
      compiledOf(query, batches, static).toSet)

  test("parity with LiveStreamProcessing on the ported timing scenario") {
    val events = (0 to 10).map { i =>
      Stream1 -> RdfEvent(i * 100L, s"http://example.org/s$i",
        "http://example.org/p", s"o$i", "")
    } :+ sentinel(3000L)
    // one event per micro-batch — fires interleave with appends
    val (parity, compiled) = runBoth(basicQuery, events.map(Seq(_)))
    assert(parity.nonEmpty)
    assert(compiled === parity)
  }

  test("parity holds when events arrive in larger micro-batches") {
    val events = (0 to 10).map { i =>
      Stream1 -> RdfEvent(i * 100L, s"http://example.org/s$i",
        "http://example.org/p", s"o$i", "")
    } :+ sentinel(3000L)
    val (parity, compiled) = runBoth(basicQuery, events.grouped(4).toSeq)
    assert(compiled === parity)
  }

  test("parity on a hybrid query: window block + static baseline join " +
      "+ FILTER") {
    val query =
      """PREFIX ex: <http://example.org/>
        |PREFIX janus: <https://janus.rs/fn#>
        |REGISTER RStream <output> AS
        |SELECT ?s ?v ?base
        |FROM NAMED WINDOW ex:w1 ON STREAM ex:stream1 [RANGE 1000 STEP 500]
        |WHERE {
        |    ?s ex:baseline ?base .
        |    WINDOW ex:w1 {
        |        ?s ex:value ?v .
        |        FILTER(janus:absolute_threshold_exceeded(?v, ?base, "5"))
        |    }
        |}""".stripMargin
    val static = Seq(
      RdfEvent(0L, "http://example.org/a", "http://example.org/baseline",
        "10", ""),
      RdfEvent(0L, "http://example.org/b", "http://example.org/baseline",
        "100", ""))
    val events = Seq(
      Stream1 -> RdfEvent(100L, "http://example.org/a",
        "http://example.org/value", "50", ""), // |50-10| > 5 → kept
      Stream1 -> RdfEvent(200L, "http://example.org/b",
        "http://example.org/value", "102", ""), // |102-100| < 5 → dropped
      Stream1 -> RdfEvent(600L, "http://example.org/a",
        "http://example.org/value", "11", ""), // |11-10| > 5 false → dropped
      sentinel(2000L))
    val (parity, compiled) = runBoth(query, Seq(events), static)
    assert(parity.nonEmpty)
    assert(compiled === parity)
    // the kept binding is the a@100 anomaly with its baseline joined in
    assert(compiled.exists { case (b, _, _) =>
      b.get("s").contains("http://example.org/a") &&
        b.get("base").contains("10") })
  }

  private val hybridQuery =
    """PREFIX ex: <http://example.org/>
      |PREFIX janus: <https://janus.rs/fn#>
      |REGISTER RStream <output> AS
      |SELECT ?s ?v ?base
      |FROM NAMED WINDOW ex:w1 ON STREAM ex:stream1 [RANGE 1000 STEP 100]
      |WHERE {
      |    ?s ex:baseline ?base .
      |    WINDOW ex:w1 {
      |        ?s ex:value ?v .
      |        FILTER(janus:absolute_threshold_exceeded(?v, ?base, "5"))
      |    }
      |}""".stripMargin

  private def baseline(subject: String, v: Int): RdfEvent =
    RdfEvent(0L, s"http://example.org/$subject",
      "http://example.org/baseline", v.toString, "")

  /** Event `i` of a feed that makes exactly one close due per batch:
    * ts `100 i + 50`, alternating subjects a and b. */
  private def reading(i: Int): (String, RdfEvent) =
    Stream1 -> RdfEvent(i * 100L + 50L,
      s"http://example.org/${if (i % 2 == 0) "a" else "b"}",
      "http://example.org/value", (50 + i).toString, "")

  /** Spark jobs one steady single fire of [[hybridQuery]] runs: the
    * broadcast of its join's build side (the fire's live-log scan) and
    * the one action that collects the fire.
    * Per-fire compilation ran 3 (measured with this spec's listener on
    * that engine): the broadcast, an eager checkpoint and the sink's
    * read of it. */
  private val JobsPerFire = 2

  test("steady single fires generate no new code and run no more jobs " +
      "than per-fire compilation did") {
    val fired = mutable.ArrayBuffer.empty[Long]
    val c = new CompiledLiveStream(spark, hybridQuery, newLog(),
      (_, _, _, to) => fired += to)
    c.setStaticData(RdfEvent.toDF(spark,
      Seq(baseline("a", 10), baseline("b", 100))))
    // warm-up: the first fires generate the code, and by batch 12 the
    // window holds a full RANGE of readings
    (0 until 12).foreach(i => c.processBatch(quadsDF(Seq(reading(i)))))
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val firedBefore = fired.size
    spark.sparkContext.addSparkListener(listener)
    try {
      (12 until 22).foreach(i => c.processBatch(quadsDF(Seq(reading(i)))))
      Thread.sleep(2000)
    } finally spark.sparkContext.removeSparkListener(listener)
    // every batch closed one window, and every fire had solutions
    assert(fired.size - firedBefore === 10)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles === 0,
      "a steady fire generated new code")
    assert(jobs.get() <= 10 * JobsPerFire,
      s"10 fires ran ${jobs.get()} jobs")
  }

  test("row-per-match fire frames are consumed with 0 Spark jobs and " +
      "stay readable after the log prunes their buckets") {
    val dir = Files.createTempDirectory("clsprune").resolve("log")
    // LAZY sink: holds every fire's rows and reads none until the feed
    // is done
    val fires = mutable.ArrayBuffer.empty[(Seq[Row], StructType, Long, Long)]
    val c = new CompiledLiveStream(spark, basicQuery,
      new EventLog(spark, dir.toString, bucketMs = 1000L),
      (rows, schema, from, to) => fires += ((rows, schema, from, to)))
    val events = (0 until 20).map { i =>
      Stream1 -> RdfEvent(i * 1000L, s"http://example.org/s$i",
        "http://example.org/p", s"o$i", "")
    }
    events.foreach(e => c.processBatch(quadsDF(Seq(e))))
    // the buckets behind the first fires are gone from disk
    val buckets = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.startsWith(EventLog.BucketCol + "=")).toSet
    assert(buckets.nonEmpty &&
      !buckets.contains(s"${EventLog.BucketCol}=0"))

    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val consumed = new SinkBuffer
    spark.sparkContext.addSparkListener(listener)
    try {
      fires.foreach { case (rows, schema, from, to) =>
        consumed.sink(rows, schema, from, to) }
      Thread.sleep(2000)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() === 0,
      s"consuming the fire frames scheduled ${jobs.get()} jobs")
    val parity = parityOf(basicQuery, events)
    assert(parity.exists(_._3 == 300L))
    assert(consumed.rows.toSet === parity)
  }

  test("a second setStaticData rebuilds the template: later fires join " +
      "the new baseline (parity)") {
    val first = Seq(baseline("a", 10))
    val second = Seq(baseline("b", 100))
    val before = (0 until 6).map(reading)
    val after = (6 until 14).map(reading) :+ sentinel(3000L)

    val p = new LiveStreamProcessing(spark, hybridQuery)
    p.addStaticData(first)
    before.foreach { case (st, e) => p.addEvent(st, e) }
    p.addStaticData(second) // the parity engine's static side accumulates
    after.foreach { case (st, e) => p.addEvent(st, e) }
    val parity = p.collectResults().toSet

    val buf = new SinkBuffer
    val c = new CompiledLiveStream(spark, hybridQuery, newLog(), buf.sink)
    c.setStaticData(RdfEvent.toDF(spark, first))
    before.foreach(e => c.processBatch(quadsDF(Seq(e))))
    c.setStaticData(RdfEvent.toDF(spark, first ++ second))
    after.foreach(e => c.processBatch(quadsDF(Seq(e))))

    assert(buf.rows.toSet === parity)
    // b joins only the second baseline, so it shows up only after it
    val bFires = buf.rows.collect {
      case (b, _, to) if b.get("base").contains("100") => to }
    assert(bFires.nonEmpty && bFires.min >= 600L)
  }

  test("parity on every fire of a two-window query with different " +
      "RANGEs, fed batch by batch") {
    val query =
      """PREFIX ex: <http://example.org/>
        |REGISTER RStream <output> AS
        |SELECT ?s ?v ?f
        |FROM NAMED WINDOW ex:wl ON STREAM ex:stream1 [RANGE 1000 STEP 200]
        |FROM NAMED WINDOW ex:ws ON STREAM ex:stream1 [RANGE 400 STEP 100]
        |WHERE {
        |    WINDOW ex:wl { ?s ex:value ?v }
        |    WINDOW ex:ws { ?s ex:flag ?f }
        |}""".stripMargin
    // subject k reports a value, then a flag 100 ms later
    val events = (0 until 24).map { i =>
      Stream1 -> RdfEvent(i * 100L + 70L, s"http://example.org/s${i / 2}",
        if (i % 2 == 0) "http://example.org/value"
        else "http://example.org/flag", s"o$i", "")
    } :+ sentinel(4000L)
    val (parity, compiled) = runBoth(query, events.map(Seq(_)))
    def byFire(rows: Set[(Map[String, String], Long, Long)]) =
      rows.groupBy(r => (r._2, r._3)).map { case (k, v) => k -> v.map(_._1) }
    assert(parity.nonEmpty)
    assert(byFire(compiled) === byFire(parity))
    // both windows fired, each with its own span
    assert(compiled.map(r => r._3 - r._2) === Set(1000L, 400L))
  }

  test("with 1 h buckets, a 5 s window's fire reads only the files that " +
      "overlap the window") {
    val query =
      """PREFIX ex: <http://example.org/>
        |REGISTER RStream <output> AS
        |SELECT ?s ?p ?o
        |FROM NAMED WINDOW ex:w1 ON STREAM ex:stream1 [RANGE 5000 STEP 1000]
        |WHERE {
        |    WINDOW ex:w1 { ?s ?p ?o }
        |}""".stripMargin
    val dir = Files.createTempDirectory("clslog1h").resolve("log")
    val log = new EventLog(spark, dir.toString, bucketMs = 3600L * 1000L)
    // a LAZY sink: the only reads of the log are the fires' own scans
    val fired = mutable.ArrayBuffer.empty[Long]
    val c = new CompiledLiveStream(spark, query, log,
      (_, _, _, to) => fired += to)
    // one single-quad file per batch, at ts 1000 i + 500: batch i makes
    // close 1000 i due, whose window [1000 i - 5000, 1000 i) holds the
    // five previous batches' files
    def batch(i: Int): Unit = c.processBatch(quadsDF(Seq(
      Stream1 -> RdfEvent(i * 1000L + 500L, s"http://example.org/s$i",
        "http://example.org/p", s"o$i", ""))))
    (0 until 20).foreach(batch)
    // rows read (task input metrics) and the file list each fire's
    // scan was given (its optimized plan's log relation)
    val records = new AtomicLong
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m =>
          records.addAndGet(m.inputMetrics.recordsRead))
    }
    val scans = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.optimizedPlan.foreach {
          case l: LogicalRelation => l.relation match {
            case r: HadoopFsRelation => scanned.add(r.inputFiles.length)
            case _ => ()
          }
          case _ => ()
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(scans)
    try {
      (20 until 30).foreach(batch)
      Thread.sleep(2000)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(scans)
    }
    assert(fired.size === 29)
    val files = Files.walk(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    // every file sits in the one bucket the whole feed fell into
    assert(files.size === 30)
    assert(files.map(_.getParent).distinct.size === 1)
    assert(scanned.asScala.toSeq === Seq.fill(10)(5),
      "files each fire's scan read")
    assert(records.get() === 10 * 5, "rows read by 10 fires")
  }

  test("parity on Oxigraph-parity forms in a live window: OPTIONAL + " +
      "BOUND negation") {
    val query =
      """PREFIX ex: <http://example.org/>
        |REGISTER RStream <output> AS
        |SELECT ?s ?v ?lbl
        |FROM NAMED WINDOW ex:w1 ON STREAM ex:stream1 [RANGE 1000 STEP 500]
        |WHERE {
        |    WINDOW ex:w1 {
        |        ?s ex:value ?v .
        |        OPTIONAL { ?s ex:label ?lbl }
        |    }
        |}""".stripMargin
    val events = Seq(
      Stream1 -> RdfEvent(100L, "http://example.org/a",
        "http://example.org/value", "1", ""),
      Stream1 -> RdfEvent(150L, "http://example.org/a",
        "http://example.org/label", "hot", ""),
      Stream1 -> RdfEvent(200L, "http://example.org/b",
        "http://example.org/value", "2", ""),
      sentinel(2000L))
    val (parity, compiled) = runBoth(query, Seq(events))
    assert(parity.nonEmpty)
    assert(compiled === parity)
    // a carries its label; b fires with ?lbl unbound
    assert(compiled.exists { case (b, _, _) =>
      b.get("s").contains("http://example.org/a") &&
        b.get("lbl").contains("hot") })
    assert(compiled.exists { case (b, _, _) =>
      b.get("s").contains("http://example.org/b") && !b.contains("lbl") })
  }

  test("log stays pruned to the fire horizon (bounded storage)") {
    val log = newLog()
    val buf = new SinkBuffer
    val c = new CompiledLiveStream(spark, basicQuery, log, buf.sink)
    (0 until 20).foreach { i =>
      c.processBatch(quadsDF(Seq(
        Stream1 -> RdfEvent(i * 1000L, s"http://example.org/s$i",
          "http://example.org/p", s"o$i", ""))))
    }
    // stream time is at 19000; pending close 19200, horizon 18200 —
    // buckets ending at or before 18000 are gone
    val remaining = log.read().count()
    assert(remaining <= 3, s"expected pruned log, found $remaining rows")
    assert(buf.rows.nonEmpty)
  }

  test("batched fires: many closes in one micro-batch match the " +
      "one-at-a-time parity path; EMPTY-snapshot closes emit nothing") {
    // aggregate over a tumbling window; one big batch advances event
    // time across 5 closes, with NO events in [300,600) or [900,1200)
    // — parity skips an entirely empty snapshot (no COUNT = 0 row),
    // and the batched path must agree
    val query =
      """PREFIX ex: <http://example.org/>
        |REGISTER RStream <output> AS
        |SELECT (COUNT(?s) AS ?n)
        |FROM NAMED WINDOW ex:w1 ON STREAM ex:stream1 [RANGE 300 STEP 300]
        |WHERE {
        |    WINDOW ex:w1 { ?s ?p ?o }
        |}""".stripMargin
    val events = Seq(100L, 250L, 700L, 1300L, 1499L).map { ts =>
      Stream1 -> RdfEvent(ts, s"http://example.org/s$ts",
        "http://example.org/p", s"o$ts", "")
    } :+ sentinel(1500L)
    val (parity, compiled) = runBoth(query, Seq(events))
    assert(compiled === parity)
    val byClose = compiled.toSeq.sortBy(_._3)
      .map { case (b, _, to) => to -> b("n") }
    assert(byClose.map(_._1) === Seq(300L, 900L, 1500L))
    assert(byClose.map(_._2.toDouble) === Seq(2.0, 1.0, 2.0))
  }

  test("batched fires: a non-empty snapshot whose pattern matches " +
      "nothing still emits the aggregate row (parity with evaluation)") {
    // window [300,600) holds only an event whose predicate does not
    // match the query pattern: the keyed batch evaluation has no group
    // for it, but parity evaluates the non-empty snapshot and emits
    // COUNT = 0 — the fallback single fire must reproduce that
    val query =
      """PREFIX ex: <http://example.org/>
        |REGISTER RStream <output> AS
        |SELECT (COUNT(?s) AS ?n)
        |FROM NAMED WINDOW ex:w1 ON STREAM ex:stream1 [RANGE 300 STEP 300]
        |WHERE {
        |    WINDOW ex:w1 { ?s <http://example.org/p> ?o }
        |}""".stripMargin
    val events = Seq(
      Stream1 -> RdfEvent(100L, "http://example.org/a",
        "http://example.org/p", "o1", ""),
      Stream1 -> RdfEvent(400L, "http://example.org/b",
        "http://example.org/OTHER", "o2", ""),
      Stream1 -> RdfEvent(700L, "http://example.org/c",
        "http://example.org/p", "o3", ""),
      sentinel(900L))
    val (parity, compiled) = runBoth(query, Seq(events))
    assert(compiled === parity)
    val byClose = compiled.toSeq.sortBy(_._3)
      .map { case (b, _, to) => to -> b("n").toDouble }
    assert(byClose === Seq(300L -> 1.0, 600L -> 0.0, 900L -> 1.0))
  }

  test("a local batch and a distributed batch with the same rows " +
      "advance event time, and fire, identically") {
    val aggQuery =
      """PREFIX ex: <http://example.org/>
        |REGISTER RStream <output> AS
        |SELECT (COUNT(?s) AS ?n)
        |FROM NAMED WINDOW ex:w1 ON STREAM ex:stream1 [RANGE 300 STEP 300]
        |WHERE {
        |    WINDOW ex:w1 { ?s <http://example.org/p> ?o }
        |}""".stripMargin
    // rows of an unregistered stream must not advance time on either path
    val other = "http://example.org/other"
    val batches = Seq(
      Seq(Stream1 -> RdfEvent(100L, "http://example.org/a",
        "http://example.org/p", "o1", ""),
        other -> RdfEvent(5000L, "http://example.org/x",
          "http://example.org/p", "ox", "")),
      Seq(Stream1 -> RdfEvent(400L, "http://example.org/b",
        "http://example.org/OTHER", "o2", "")),
      Seq(Stream1 -> RdfEvent(700L, "http://example.org/c",
        "http://example.org/p", "o3", ""),
        Stream1 -> RdfEvent(1300L, "http://example.org/d",
          "http://example.org/p", "o4", "")),
      Seq(sentinel(2000L)))
    /** Every sink call in order: (from, to, sorted rendered rows). */
    def fires(query: String, distributed: Boolean)
        : Seq[(Long, Long, Seq[String])] = {
      val out = mutable.ArrayBuffer.empty[(Long, Long, Seq[String])]
      val c = new CompiledLiveStream(spark, query, newLog(),
        (rows, _, from, to) =>
          out += ((from, to, rows.map(_.toString).sorted)))
      batches.foreach { b =>
        val df = quadsDF(b)
        assert(EventLog.localQuads(df).isDefined)
        val in = if (distributed) df.repartition(2) else df
        assert(EventLog.localQuads(in).isDefined === !distributed)
        c.processBatch(in)
      }
      out.toSeq
    }
    for (q <- Seq(basicQuery, aggQuery)) {
      val local = fires(q, distributed = false)
      assert(local.nonEmpty)
      assert(local === fires(q, distributed = true))
    }
  }

  test("attach: end-to-end through Structured Streaming foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[RdfEvent]
    val buf = new SinkBuffer
    val c = new CompiledLiveStream(spark, basicQuery, newLog(), buf.sink)
    val dir = Files.createTempDirectory("clsckpt")
    val q = c.attach(
      input.toDS().toDF().withColumnRenamed("objectValue", "object"),
      dir.toString)
    try {
      input.addData(
        RdfEvent(100L, "http://example.org/a", "http://example.org/p",
          "1", Stream1),
        RdfEvent(250L, "http://example.org/b", "http://example.org/p",
          "2", Stream1))
      q.processAllAvailable()
      input.addData(RdfEvent(1400L, "http://example.org/c",
        "http://example.org/p", "3", Stream1))
      q.processAllAvailable()
      // stream time 1400 → closes 300..1200 fired
      val closes = buf.rows.map(_._3).distinct.sorted
      assert(closes.nonEmpty)
      assert(closes.forall(_ % 300 == 0))
      assert(closes.last === 1200L)
      val subjects = buf.rows.map(_._1("s")).toSet
      assert(subjects === Set("http://example.org/a", "http://example.org/b"))
    } finally q.stop()
  }
}
