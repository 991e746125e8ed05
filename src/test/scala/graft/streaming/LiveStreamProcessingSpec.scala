package graft.streaming

import graft.TestSpark
import graft.api.{JanusApi, QueryRegistry}
import graft.core.RdfEvent

import org.scalatest.funsuite.AnyFunSuite

/** Ports the timing/behavioral assertions of
  * the reference's `tests/live_stream_integration_test.rs` (reformulated
  * as event-time window assertions per SURVEY.md §7.3 item 1), run on
  * the live engine; named after the reference's
  * `live_stream_processing.rs`, whose contract they pin. */
class LiveStreamProcessingSpec extends AnyFunSuite {

  import LiveFeed._

  private lazy val spark = TestSpark.spark

  test("window timing: closes every STEP, range == RANGE " +
      "(live_stream_integration_test.rs:119-161)") {
    val rows = compiledOf(basicQuery,
      ((0 to 10).map(i => ev(i * 100L, s"s$i", "p", s"o$i")) :+
        sentinel(3000L)).map(Seq(_)))
    assert(rows.nonEmpty)
    // every result spans exactly RANGE
    assert(rows.forall { case (_, from, to) => to - from === 1000L })
    // at least 3 distinct window closures produced results
    val closes = rows.map(_._3).distinct.sorted
    assert(closes.length >= 3)
    // closes are multiples of STEP
    assert(closes.forall(_ % 300 === 0))
    // sentinel never leaks into bindings
    assert(rows.forall(!_._1.values.exists(_.contains("sentinel"))))
  }

  test("window content: fire at c covers [c-range, c) only") {
    val rows = compiledOf(basicQuery, Seq(ev(100L, "a", "p", "1"),
      ev(1500L, "b", "p", "2"), sentinel(2400L)).map(Seq(_)))
    val byClose = rows.groupBy(_._3)
      .view.mapValues(_.map(_._1("s")).toSet).toMap
    // the close at 300 covers [-700, 300): only a@100; the one at 1800
    // covers [800, 1800): only b@1500
    assert(byClose(300L) === Set("http://example.org/a"))
    assert(byClose(1800L) === Set("http://example.org/b"))
    // the close at 1200 covers [200, 1200): neither a@100 nor b@1500
    assert(!byClose.contains(1200L))
  }

  test("empty windows produce no results") {
    assert(compiledOf(
      basicQuery.replace("RANGE 1000 STEP 300", "RANGE 1000 STEP 500"),
      Seq(Seq(sentinel(5000L)))).isEmpty)
  }

  test("extension-function FILTER on the live path") {
    val q =
      """PREFIX ex: <http://example.org/>
        |PREFIX janus: <https://janus.rs/fn#>
        |REGISTER RStream <output> AS
        |SELECT ?s ?v
        |FROM NAMED WINDOW ex:w1 ON STREAM ex:stream1 [RANGE 1000 STEP 1000]
        |WHERE {
        |    WINDOW ex:w1 {
        |        ?s ex:value ?v .
        |        FILTER(janus:absolute_threshold_exceeded(?v, "50", "10"))
        |    }
        |}""".stripMargin
    val rows = compiledOf(q, Seq(ev(100L, "hot", "value", "95"),
      ev(200L, "ok", "value", "55"), sentinel(1000L)).map(Seq(_)))
    assert(rows.map(_._1("s")).toSet === Set("http://example.org/hot"))
  }

  test("stream-static join: baseline quads join live readings (R10)") {
    val q =
      """PREFIX ex: <http://example.org/>
        |PREFIX baseline: <https://janus.rs/baseline#>
        |PREFIX janus: <https://janus.rs/fn#>
        |REGISTER RStream <output> AS
        |SELECT ?sensor ?reading ?mean
        |FROM NAMED WINDOW ex:w1 ON STREAM ex:stream1 [RANGE 1000 STEP 1000]
        |WHERE {
        |    WINDOW ex:w1 { ?sensor ex:reading ?reading . }
        |    ?sensor baseline:mean ?mean .
        |    FILTER(janus:absolute_threshold_exceeded(?reading, ?mean, 5))
        |}""".stripMargin
    val static = Seq(
      RdfEvent(0L, "http://example.org/s1", "https://janus.rs/baseline#mean",
        "20", ""),
      RdfEvent(0L, "http://example.org/s2", "https://janus.rs/baseline#mean",
        "50", ""))
    val rows = compiledOf(q, Seq(
      ev(100L, "s1", "reading", "40"), // |40-20| > 5 → anomaly
      ev(200L, "s2", "reading", "52"), // |52-50| < 5 → fine
      sentinel(1000L)).map(Seq(_)), static)
    assert(rows.map(_._1("sensor")).toSet === Set("http://example.org/s1"))
    assert(rows.head._1("mean") === "20")
  }

  test("cross-window merge: two windows join at fire time (W2)") {
    val q =
      """PREFIX ex: <http://example.org/>
        |REGISTER RStream <output> AS
        |SELECT ?s ?a ?b
        |FROM NAMED WINDOW ex:w1 ON STREAM ex:stream1 [RANGE 1000 STEP 1000]
        |FROM NAMED WINDOW ex:w2 ON STREAM ex:stream2 [RANGE 1000 STEP 1000]
        |WHERE {
        |    WINDOW ex:w1 { ?s ex:a ?a . }
        |    WINDOW ex:w2 { ?s ex:b ?b . }
        |}""".stripMargin
    val rows = compiledOf(q, Seq(ev(100L, "x", "a", "1"),
      ev(200L, "x", "b", "2", Stream2), sentinel(1000L),
      sentinel(1000L, Stream2)).map(Seq(_)))
    assert(rows.exists { case (b, _, _) =>
      b.get("a").contains("1") && b.get("b").contains("2") })
  }

  test("a window fires only when ITS stream's event time advances") {
    val q =
      """PREFIX ex: <http://example.org/>
        |REGISTER RStream <output> AS
        |SELECT ?s ?o
        |FROM NAMED WINDOW ex:w1 ON STREAM ex:stream1 [RANGE 1000 STEP 1000]
        |FROM NAMED WINDOW ex:w2 ON STREAM ex:stream2 [RANGE 1000 STEP 1000]
        |WHERE {
        |    WINDOW ex:w1 { ?s ex:a ?o . }
        |    WINDOW ex:w2 { ?s ex:a ?o . }
        |}""".stripMargin
    val buf = new SinkBuffer
    val c = new CompiledLiveStream(spark, q, newLog(), buf.sink)
    // identical (s,o) in both streams so the cross-window join matches
    Seq(ev(50L, "x", "a", "1"), ev(100L, "x", "a", "1", Stream2))
      .foreach(e => c.processBatch(quadsDF(Seq(e))))
    // stream1 reaches 1000 → ONLY w1 fires (merging w2's content);
    // w2's own stream time is still 100, so w2 must not fire yet
    c.processBatch(quadsDF(Seq(sentinel(1000L))))
    assert(buf.rows.length === 1, s"expected exactly one fire, got ${buf.rows}")
    // stream2 reaches 1000 → now w2 fires too
    c.processBatch(quadsDF(Seq(sentinel(1000L, Stream2))))
    assert(buf.rows.length === 2,
      s"expected exactly one more fire, got ${buf.rows}")
  }

  test("literal and IRI objects both flow through") {
    val rows = compiledOf(basicQuery, Seq(
      ev(100L, "s", "p", "http://example.org/obj"),
      ev(150L, "s", "p", "plain text"), sentinel(300L)).map(Seq(_)))
    assert(rows.map(_._1("o")).toSet ===
      Set("http://example.org/obj", "plain text"))
  }

  test("buffers evict events no future window can cover") {
    // without a factory the query's live log is bucketed by its STEP
    val api = new JanusApi(spark, new QueryRegistry(),
      _ => spark.emptyDataFrame)
    api.registerQuery("evict", basicQuery) // RANGE 1000 STEP 300
    val handle = api.startQuery("evict")
    (0 until 20).foreach(i => handle.addLiveEvents(Stream1,
      Seq(ev(i * 50L, s"s$i", "p", s"$i")._2)))
    // some early events already pruned as windows fired during the adds
    assert(handle.live.exists(_.bufferedEventCount <= 20))
    // advance far past the events: every bucket below the next close
    // minus RANGE is dropped
    handle.addLiveEvents(Stream1, Seq(sentinel(60000L)._2))
    // only the sentinel can remain
    assert(handle.live.exists(_.bufferedEventCount <= 1))
    api.stopQuery("evict")
  }
}
