package graft.streaming

import graft.TestSpark
import graft.core.RdfEvent
import graft.storage.EventLog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.collection.mutable

/** The cluster-scale live path must produce EXACTLY the results of the
  * driver-buffered parity path ([[LiveStreamProcessing]], itself ported
  * from `tests/live_stream_integration_test.rs`) — same fires, same
  * bindings, same window spans — while holding no events on the driver
  * and keeping the distributed log pruned. */
class CompiledLiveStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val basicQuery =
    """PREFIX ex: <http://example.org/>
      |REGISTER RStream <output> AS
      |SELECT ?s ?p ?o
      |FROM NAMED WINDOW ex:w1 ON STREAM ex:stream1 [RANGE 1000 STEP 300]
      |WHERE {
      |    WINDOW ex:w1 { ?s ?p ?o }
      |}""".stripMargin

  private val Stream1 = "http://example.org/stream1"

  /** Collected result rows as (bindings, from, to) — the same shape
    * LiveStreamProcessing emits. */
  private final class SinkBuffer {
    val rows = mutable.ArrayBuffer.empty[(Map[String, String], Long, Long)]
    def sink(df: DataFrame, from: Long, to: Long): Unit = {
      val cols = df.columns
      df.collect().foreach { row =>
        val b = cols.zipWithIndex.collect {
          case (name, i) if !row.isNullAt(i) =>
            name -> String.valueOf(row.get(i))
        }.toMap
        rows += ((b, from, to))
      }
    }
  }

  private def newLog(): EventLog = {
    val dir = Files.createTempDirectory("clslog")
    new EventLog(spark, dir.resolve("log").toString, bucketMs = 1000L)
  }

  private def quadsDF(events: Seq[(String, RdfEvent)]): DataFrame =
    RdfEvent.toDF(spark,
      events.map { case (stream, e) => e.copy(graph = stream) })

  /** Run the same event feed through both paths; return (parity results,
    * compiled results). `batches` groups events into micro-batches. */
  private def runBoth(query: String,
      batches: Seq[Seq[(String, RdfEvent)]],
      static: Seq[RdfEvent] = Nil)
      : (Set[(Map[String, String], Long, Long)],
         Set[(Map[String, String], Long, Long)]) = {
    // parity path
    val p = new LiveStreamProcessing(spark, query)
    batches.flatten.map(_._1).distinct.foreach(p.registerStream)
    if (static.nonEmpty) p.addStaticData(static)
    p.startProcessing()
    batches.foreach(_.foreach { case (s, e) => p.addEvent(s, e) })
    val parity = p.collectResults()
      .map(r => (r.bindings, r.timestampFrom, r.timestampTo)).toSet

    // compiled path
    val buf = new SinkBuffer
    val c = new CompiledLiveStream(spark, query, newLog(), buf.sink)
    if (static.nonEmpty)
      c.setStaticData(RdfEvent.toDF(spark, static.toSeq))
    batches.foreach(b => c.processBatch(quadsDF(b)))
    (parity, buf.rows.toSet)
  }

  test("parity with LiveStreamProcessing on the ported timing scenario") {
    val events = (0 to 10).map { i =>
      Stream1 -> RdfEvent(i * 100L, s"http://example.org/s$i",
        "http://example.org/p", s"o$i", "")
    } :+ (Stream1 -> RdfEvent(3000L, LiveStreamProcessing.SentinelSubject,
      LiveStreamProcessing.SentinelPredicate,
      LiveStreamProcessing.SentinelObject, ""))
    // one event per micro-batch — fires interleave with appends
    val (parity, compiled) = runBoth(basicQuery, events.map(Seq(_)))
    assert(parity.nonEmpty)
    assert(compiled === parity)
  }

  test("parity holds when events arrive in larger micro-batches") {
    val events = (0 to 10).map { i =>
      Stream1 -> RdfEvent(i * 100L, s"http://example.org/s$i",
        "http://example.org/p", s"o$i", "")
    } :+ (Stream1 -> RdfEvent(3000L, LiveStreamProcessing.SentinelSubject,
      LiveStreamProcessing.SentinelPredicate,
      LiveStreamProcessing.SentinelObject, ""))
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
      Stream1 -> RdfEvent(2000L, LiveStreamProcessing.SentinelSubject,
        LiveStreamProcessing.SentinelPredicate,
        LiveStreamProcessing.SentinelObject, ""))
    val (parity, compiled) = runBoth(query, Seq(events), static)
    assert(parity.nonEmpty)
    assert(compiled === parity)
    // the kept binding is the a@100 anomaly with its baseline joined in
    assert(compiled.exists { case (b, _, _) =>
      b.get("s").contains("http://example.org/a") &&
        b.get("base").contains("10") })
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
      Stream1 -> RdfEvent(2000L, LiveStreamProcessing.SentinelSubject,
        LiveStreamProcessing.SentinelPredicate,
        LiveStreamProcessing.SentinelObject, ""))
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
    } :+ (Stream1 -> RdfEvent(1500L, LiveStreamProcessing.SentinelSubject,
      LiveStreamProcessing.SentinelPredicate,
      LiveStreamProcessing.SentinelObject, ""))
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
      Stream1 -> RdfEvent(900L, LiveStreamProcessing.SentinelSubject,
        LiveStreamProcessing.SentinelPredicate,
        LiveStreamProcessing.SentinelObject, ""))
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
      Seq(Stream1 -> RdfEvent(2000L, LiveStreamProcessing.SentinelSubject,
        LiveStreamProcessing.SentinelPredicate,
        LiveStreamProcessing.SentinelObject, "")))
    /** Every sink call in order: (from, to, sorted rendered rows). */
    def fires(query: String, distributed: Boolean)
        : Seq[(Long, Long, Seq[String])] = {
      val out = mutable.ArrayBuffer.empty[(Long, Long, Seq[String])]
      val c = new CompiledLiveStream(spark, query, newLog(),
        (df, from, to) =>
          out += ((from, to, df.collect().map(_.toString).toSeq.sorted)))
      batches.foreach { b =>
        val df = quadsDF(b)
        assert(EventLog.localQuads(df).isDefined)
        val in = if (distributed) df.repartition(2) else df
        assert(EventLog.localQuads(in).isDefined === !distributed)
        c.processBatch(in)
      }
      c.close()
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
