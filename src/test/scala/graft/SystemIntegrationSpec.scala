package graft

import graft.api.{JanusApi, QueryRegistry}
import graft.core.RdfEvent
import graft.storage.{EventLog, ReplayBus}
import graft.streaming.CompiledLiveStream

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Whole-system flow: N-Quads file → replay bus → event log →
  * hybrid Janus-QL query (historical baseline from the log + live
  * anomaly filter) → unified results — the reference's headline
  * scenario (`docs/QUERY_EXECUTION.md`) end-to-end on the Spark
  * engine. */
class SystemIntegrationSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("file → storage → hybrid query → anomaly results") {
    val dir = Files.createTempDirectory("system")

    // 1. historical sensor archive as an N-Quads file: sensor0 runs
    //    cool (mean 20), sensor1 runs hot (mean 80)
    val nq = dir.resolve("history.nq")
    val lines = (0 until 20).map { i =>
      val sensor = i % 2
      val value = if (sensor == 0) 18 + (i % 5) else 78 + (i % 5)
      s"""${i * 1000} <http://example.org/sensor$sensor> <http://example.org/reading> "$value" ."""
    }
    Files.writeString(nq, lines.mkString("", "\n", "\n"))

    // 2. replay into the event log (stream-bus path)
    val log = new EventLog(spark, dir.resolve("log").toString)
    val (stored, errors) = ReplayBus.ingestFile(spark, nq.toString, log)
    assert(stored === 20 && errors === 0)

    // 3. register + start the hybrid query
    val registry = new QueryRegistry()
    val api = new JanusApi(spark, registry, _ => log.read(), () => 20000L)
    api.registerQuery("hybrid",
      """PREFIX ex: <http://example.org/>
        |PREFIX baseline: <https://janus.rs/baseline#>
        |PREFIX janus: <https://janus.rs/fn#>
        |REGISTER RStream ex:out AS
        |SELECT ?sensor ?live ?hist ?mean
        |FROM NAMED WINDOW ex:hist ON LOG ex:archive [START 0 END 19000]
        |FROM NAMED WINDOW ex:live ON STREAM ex:feed [RANGE 1000 STEP 1000]
        |USING BASELINE ex:hist AGGREGATE
        |WHERE {
        |    WINDOW ex:hist { ?sensor ex:reading ?hist }
        |    WINDOW ex:live { ?sensor ex:reading ?live }
        |    ?sensor baseline:hist ?mean .
        |    FILTER(janus:absolute_threshold_exceeded(?live, ?mean, 15))
        |}""".stripMargin)
    val handle = api.startQuery("hybrid")
    assert(handle.awaitWarmup(30000))
    assert(handle.status === JanusApi.ExecutionStatus.Running)

    // 4. live feed: sensor0 spikes to 60 (|60-20| > 15 → anomaly),
    //    sensor1 stays at 82 (|82-80| < 15 → quiet)
    //    the sentinel closes the window [0, 1000)
    handle.addLiveEvents("http://example.org/feed", Seq(
      RdfEvent(100, "http://example.org/sensor0",
        "http://example.org/reading", "60", ""),
      RdfEvent(200, "http://example.org/sensor1",
        "http://example.org/reading", "82", ""),
      CompiledLiveStream.sentinel(1000)))

    // 5. unified results: historical batch + exactly one live anomaly
    val deadline = System.currentTimeMillis() + 15000
    var historical = Vector.empty[JanusApi.QueryResult]
    var liveResults = Vector.empty[JanusApi.QueryResult]
    // the live fire delivered before addLiveEvents returned; the
    // historical worker runs on its own thread and may still be going
    while ((liveResults.isEmpty || historical.isEmpty) &&
        System.currentTimeMillis() < deadline) {
      handle.tryReceive() match {
        case Some(r) if r.source == JanusApi.ResultSource.Historical =>
          historical :+= r
        case Some(r) => liveResults :+= r
        case None => Thread.sleep(50)
      }
    }
    assert(historical.nonEmpty, "expected the historical window batch")
    assert(historical.head.bindings.length === 20)
    assert(liveResults.nonEmpty, "expected a live anomaly")
    val b = liveResults.head.bindings.head
    assert(b("sensor") === "http://example.org/sensor0")
    assert(b("live") === "60")
    assert(b("mean") === "20") // AGGREGATE mean of 18,19,20,21,22 ×2
    api.stopQuery("hybrid")
  }
}
