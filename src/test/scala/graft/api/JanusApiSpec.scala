package graft.api

import graft.TestSpark
import graft.core.RdfEvent
import graft.storage.EventLog
import graft.streaming.CompiledLiveStream

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Ports the lifecycle flows of
  * `/root/reference/tests/janus_api_integration_test.rs`: register/
  * start/stop, duplicate-start error, status transitions, historical-
  * only and hybrid runs with baseline warm-up. */
class JanusApiSpec extends AnyFunSuite {

  import JanusApi._

  private lazy val spark = TestSpark.spark

  /** Historical store: sensor readings at ts 0..9000 (ms), value 20+i. */
  private lazy val store = RdfEvent.toDF(spark, (0 until 10).map(i =>
    RdfEvent(i * 1000L, s"http://example.org/sensor${i % 2}",
      "http://example.org/reading", (20 + i).toString, "")))

  private def newApi(clockMs: Long = 10000L): (JanusApi, QueryRegistry) = {
    val registry = new QueryRegistry()
    (new JanusApi(spark, registry, _ => store, () => clockMs), registry)
  }

  private val historicalOnly =
    """PREFIX ex: <http://example.org/>
      |SELECT ?sensor ?reading
      |FROM NAMED WINDOW ex:hist ON LOG ex:store [START 0 END 5000]
      |WHERE {
      |    WINDOW ex:hist { ?sensor ex:reading ?reading }
      |}""".stripMargin

  test("register stores without executing; duplicate registration errors") {
    val (api, registry) = newApi()
    api.registerQuery("q1", historicalOnly)
    assert(registry.get("q1").isDefined)
    assert(api.status("q1") === Some(ExecutionStatus.Registered))
    assertThrows[ApiException](api.registerQuery("q1", historicalOnly))
  }

  test("malformed query fails registration with ParseError") {
    val (api, _) = newApi()
    assertThrows[ApiException](api.registerQuery("bad",
      """PREFIX ex: <http://example.org/>
        |SELECT ?s
        |FROM NAMED WINDOW ex:w ON LOG ex:store [RANGE 10 STEP 5]
        |WHERE { WINDOW ex:w { ?s ex:v ?v } }""".stripMargin))
  }

  test("historical-only fixed window: one Historical batch, " +
      "then Completed (janus_api_integration_test.rs:133-191)") {
    val (api, registry) = newApi()
    api.registerQuery("q1", historicalOnly)
    val handle = api.startQuery("q1")
    val result = handle.receive(10000).getOrElse(fail("no result"))
    assert(result.source === ResultSource.Historical)
    assert(result.timestamp === 5000L)
    // readings at ts 0..5000 → 6 solutions
    assert(result.bindings.length === 6)
    assert(result.bindings.forall(_.contains("sensor")))
    // worker finishes → Completed
    val deadline = System.currentTimeMillis() + 10000
    while (handle.status != ExecutionStatus.Completed &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(handle.status === ExecutionStatus.Completed)
    assert(registry.executionCount("q1") === 1)
  }

  test("duplicate start errors; unknown query errors") {
    val (api, _) = newApi()
    api.registerQuery("q1", historicalOnly)
    api.startQuery("q1")
    assertThrows[ApiException](api.startQuery("q1"))
    assertThrows[ApiException](api.startQuery("nope"))
    api.stopQuery("q1")
  }

  test("stop transitions to Stopped; restart works after stop") {
    val (api, _) = newApi()
    api.registerQuery("q1", historicalOnly)
    val h = api.startQuery("q1")
    api.stopQuery("q1")
    assert(h.status === ExecutionStatus.Stopped)
    // api.status remembers the stop even though the handle left the
    // running map (the reference's status machine does not forget)
    assert(api.status("q1") === Some(ExecutionStatus.Stopped))
    val h2 = api.startQuery("q1")
    assert(h2.receive(10000).isDefined)
    assert(api.status("q1") !== Some(ExecutionStatus.Stopped))
    api.stopQuery("q1")
  }

  test("historical sliding window emits one batch per window") {
    val (api, registry) = newApi(clockMs = 9000)
    api.registerQuery("qs",
      """PREFIX ex: <http://example.org/>
        |SELECT ?sensor ?reading
        |FROM NAMED WINDOW ex:hist ON LOG ex:store [OFFSET 6000 RANGE 3000 STEP 3000]
        |WHERE {
        |    WINDOW ex:hist { ?sensor ex:reading ?reading }
        |}""".stripMargin)
    val handle = api.startQuery("qs")
    // windows: [3000,6000],[6000,9000],[9000,9000] → 3 batches
    val batches = (1 to 3).flatMap(_ => handle.receive(10000))
    assert(batches.length === 3)
    assert(batches.forall(_.source === ResultSource.Historical))
    assert(batches.map(_.bindings.length).sum === 4 + 4 + 1)
    assert(registry.executionCount("qs") === 3)
  }

  test("sliding windows with zero solutions still emit an (empty) batch " +
      "(janus_api.rs:276-298)") {
    // clock 15000, base 9000 → windows [9000,12000],[12000,15000],
    // [15000,15000]; only ts 9000 exists → batches of 1, 0, 0 rows
    val (api, registry) = newApi(clockMs = 15000)
    api.registerQuery("qe",
      """PREFIX ex: <http://example.org/>
        |SELECT ?sensor ?reading
        |FROM NAMED WINDOW ex:hist ON LOG ex:store [OFFSET 6000 RANGE 3000 STEP 3000]
        |WHERE {
        |    WINDOW ex:hist { ?sensor ex:reading ?reading }
        |}""".stripMargin)
    val handle = api.startQuery("qe")
    val batches = (1 to 3).flatMap(_ => handle.receive(10000))
    assert(batches.length === 3)
    assert(batches.map(_.bindings.length) === Seq(1, 0, 0))
    assert(registry.executionCount("qe") === 3)
  }

  private val hybridQuery =
    """PREFIX ex: <http://example.org/>
      |PREFIX baseline: <https://janus.rs/baseline#>
      |PREFIX janus: <https://janus.rs/fn#>
      |REGISTER RStream ex:out AS
      |SELECT ?sensor ?live ?hist
      |FROM NAMED WINDOW ex:hist ON LOG ex:store [START 0 END 9000]
      |FROM NAMED WINDOW ex:live ON STREAM ex:liveStream [RANGE 1000 STEP 1000]
      |USING BASELINE ex:hist AGGREGATE
      |WHERE {
      |    WINDOW ex:hist { ?sensor ex:reading ?hist }
      |    WINDOW ex:live { ?sensor ex:reading ?live }
      |    ?sensor baseline:hist ?mean .
      |    FILTER(janus:absolute_threshold_exceeded(?live, ?mean, 10))
      |}""".stripMargin

  private val LiveStream = "http://example.org/liveStream"

  /** sensor0's historical readings are 20,22,24,26,28 (mean 24), so a
    * live 40 is an anomaly; sensor1's mean is 25, so 26 is not. The
    * sentinel closes the window [0, 1000). */
  private val hybridFeed = Seq(
    RdfEvent(100L, "http://example.org/sensor0",
      "http://example.org/reading", "40", ""),
    RdfEvent(200L, "http://example.org/sensor1",
      "http://example.org/reading", "26", ""),
    CompiledLiveStream.sentinel(1000L))

  /** Every Live result in the queue now. A fire delivers before
    * `addLiveEvents` returns, so nothing is still on its way. */
  private def liveResults(h: JanusApi#QueryHandle): Seq[QueryResult] =
    Iterator.continually(h.tryReceive()).takeWhile(_.isDefined).flatten
      .filter(_.source == ResultSource.Live).toSeq

  test("hybrid query: WarmingBaseline → Running, live joins baseline " +
      "(janus_api_integration_test.rs:624-682)") {
    val (api, _) = newApi()
    api.registerQuery("hybrid", hybridQuery)
    val handle = api.startQuery("hybrid")
    assert(handle.status === ExecutionStatus.WarmingBaseline ||
      handle.status === ExecutionStatus.Running)
    assert(handle.awaitWarmup())
    assert(handle.status === ExecutionStatus.Running)

    handle.addLiveEvents(LiveStream, hybridFeed)
    val live = liveResults(handle)
    assert(live.map(_.bindings) ===
      Seq(Seq(Map("sensor" -> "http://example.org/sensor0", "live" -> "40"))))
    assert(live.head.timestamp === 1000L)
    api.stopQuery("hybrid")
  }

  /** An api over [[store]] whose logProvider records each call as
    * (source IRI, calling thread's name). */
  private def countingApi()
      : (JanusApi, QueryRegistry, () => Seq[(String, String)]) = {
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val registry = new QueryRegistry()
    val api = new JanusApi(spark, registry, { src =>
      calls.add(src -> Thread.currentThread.getName)
      store
    }, () => 10000L)
    (api, registry, () => calls.asScala.toSeq)
  }

  /** The next `n` results, all of which must be Historical. */
  private def historical(h: JanusApi#QueryHandle, n: Int): Seq[QueryResult] = {
    val rs = (1 to n).flatMap(_ => h.receive(10000))
    assert(rs.size === n && rs.forall(_.source === ResultSource.Historical))
    rs
  }

  test("a hybrid start reads each historical window's source once: the " +
      "baseline window runs only on the warm-up thread") {
    val (api, registry, calls) = countingApi()
    api.registerQuery("once", hybridQuery)
    val handle = api.startQuery("once")
    assert(handle.awaitWarmup())
    assert(handle.status === ExecutionStatus.Running)
    historical(handle, 1)
    assert(calls().map(_._1) === Seq("http://example.org/store"))
    assert(calls().forall(_._2 === "graft-baseline-once"))
    assert(registry.executionCount("once") === 1)
    api.stopQuery("once")
  }

  test("the baseline window's Historical result is the one the same " +
      "window gives as a historical-only query") {
    val (api, registry) = newApi()
    api.registerQuery("hyb", hybridQuery)
    val hyb = api.startQuery("hyb")
    assert(hyb.awaitWarmup())
    val fromHybrid = historical(hyb, 1).head
    // the baseline still joins the live side after its batch was emitted
    hyb.addLiveEvents(LiveStream, hybridFeed)
    assert(liveResults(hyb).map(_.bindings) ===
      Seq(Seq(Map("sensor" -> "http://example.org/sensor0", "live" -> "40"))))
    assert(registry.executionCount("hyb") === 2)
    api.stopQuery("hyb")

    api.registerQuery("alone",
      """PREFIX ex: <http://example.org/>
        |SELECT ?sensor ?hist
        |FROM NAMED WINDOW ex:hist ON LOG ex:store [START 0 END 9000]
        |WHERE {
        |    WINDOW ex:hist { ?sensor ex:reading ?hist }
        |}""".stripMargin)
    val alone = historical(api.startQuery("alone"), 1).head
    assert(fromHybrid.timestamp === 9000L)
    assert(fromHybrid.timestamp === alone.timestamp)
    assert(fromHybrid.bindings.length === 10)
    assert(fromHybrid.bindings.sortBy(_.toString) ===
      alone.bindings.sortBy(_.toString))
    assert(registry.executionCount("alone") === 1)
  }

  test("when USING BASELINE names one of two historical windows, the " +
      "other still emits from its own worker") {
    val (api, registry, calls) = countingApi()
    api.registerQuery("two",
      """PREFIX ex: <http://example.org/>
        |PREFIX baseline: <https://janus.rs/baseline#>
        |REGISTER RStream ex:out AS
        |SELECT ?sensor ?live ?a ?b
        |FROM NAMED WINDOW ex:histA ON LOG ex:storeA [START 0 END 4000]
        |FROM NAMED WINDOW ex:histB ON LOG ex:storeB [START 5000 END 9000]
        |FROM NAMED WINDOW ex:live ON STREAM ex:liveStream [RANGE 1000 STEP 1000]
        |USING BASELINE ex:histA AGGREGATE
        |WHERE {
        |    WINDOW ex:histA { ?sensor ex:reading ?a }
        |    WINDOW ex:histB { ?sensor ex:reading ?b }
        |    WINDOW ex:live { ?sensor ex:reading ?live }
        |    ?sensor baseline:a ?mean .
        |}""".stripMargin)
    val handle = api.startQuery("two")
    assert(handle.awaitWarmup())
    val rs = historical(handle, 2)
    // readings at ts 0..4000 and 5000..9000: five solutions each
    assert(rs.map(r => r.timestamp -> r.bindings.length).toSet ===
      Set(4000L -> 5, 9000L -> 5))
    assert(rs.find(_.timestamp == 4000L).get.bindings.forall(_.contains("a")))
    assert(rs.find(_.timestamp == 9000L).get.bindings.forall(_.contains("b")))
    assert(calls().toSet === Set(
      "http://example.org/storeA" -> "graft-baseline-two",
      "http://example.org/storeB" -> "graft-hist-two-http://example.org/histB"))
    assert(calls().size === 2)
    assert(registry.executionCount("two") === 2)
    api.stopQuery("two")
  }

  test("historical window ON STREAM scopes to the stream's named graph " +
      "(janusql_parser.rs:556-558)") {
    // quads from two streams, tagged with their stream graph
    val multi = RdfEvent.toDF(spark, Seq(
      RdfEvent(100L, "http://example.org/a", "http://example.org/reading",
        "1", "http://example.org/streamA"),
      RdfEvent(200L, "http://example.org/b", "http://example.org/reading",
        "2", "http://example.org/streamB")))
    val registry = new QueryRegistry()
    val api = new JanusApi(spark, registry, _ => multi, () => 10000L)
    api.registerQuery("qstream",
      """PREFIX ex: <http://example.org/>
        |SELECT ?sensor ?reading
        |FROM NAMED WINDOW ex:hist ON STREAM ex:streamA [START 0 END 5000]
        |WHERE {
        |    WINDOW ex:hist { ?sensor ex:reading ?reading }
        |}""".stripMargin)
    val handle = api.startQuery("qstream")
    val result = handle.receive(10000).getOrElse(fail("no result"))
    // only streamA's quad matches the GRAPH <streamA> scope
    assert(result.bindings.map(_("sensor")) === Seq("http://example.org/a"))
  }

  /** This JVM's temporary directories that hold a live log of
    * `queryId` made by JanusApi itself. */
  private def ownedLiveDirs(queryId: String): Seq[Path] = {
    val tmp = Files.list(Path.of(System.getProperty("java.io.tmpdir")))
    try tmp.iterator().asScala
      .filter(_.getFileName.toString.startsWith(s"graft-live-$queryId"))
      .toSeq
    finally tmp.close()
  }

  test("without a factory a live query's log lives in a temporary " +
      "directory of its own, which stopQuery deletes") {
    val (api, _) = newApi()
    api.registerQuery("ownedLog", hybridQuery)
    assert(ownedLiveDirs("ownedLog").isEmpty)
    val handle = api.startQuery("ownedLog")
    assert(handle.awaitWarmup())
    handle.addLiveEvents(LiveStream, hybridFeed)
    assert(liveResults(handle).size === 1)
    assert(ownedLiveDirs("ownedLog").size === 1)
    assert(handle.live.exists(_.bufferedEventCount > 0))
    api.stopQuery("ownedLog")
    assert(ownedLiveDirs("ownedLog").isEmpty,
      "the query's live log outlived stopQuery")
    // a stopped query takes no more events (they would land in a log
    // nobody reads); its counters stay readable
    assertThrows[ApiException](handle.addLiveEvents(LiveStream, hybridFeed))
    assert(ownedLiveDirs("ownedLog").isEmpty)
    assert(handle.live.exists(_.bufferedEventCount > 0))
  }

  test("a scaleLiveLogFactory says where each query's live log lives; " +
      "the caller keeps it after stopQuery") {
    val dir = Files.createTempDirectory("scale-live")
    val registry = new QueryRegistry()
    val api = new JanusApi(spark, registry, _ => store, () => 10000L,
      scaleLiveLogFactory = Some(id => new EventLog(spark,
        dir.resolve(id).toString, bucketMs = 1000L)))
    api.registerQuery("hybrid2", hybridQuery)
    val handle = api.startQuery("hybrid2")
    assert(handle.awaitWarmup())
    assert(handle.status === ExecutionStatus.Running)
    handle.addLiveEvents(LiveStream, hybridFeed)
    // the same results as with a log of the api's own
    assert(liveResults(handle).map(_.bindings) ===
      Seq(Seq(Map("sensor" -> "http://example.org/sensor0", "live" -> "40"))))
    assert(handle.live.map(_.bufferedEventCount) === Some(
      new EventLog(spark, dir.resolve("hybrid2").toString).read().count()))
    api.stopQuery("hybrid2")
    assert(Files.isDirectory(dir.resolve("hybrid2")))
    assert(ownedLiveDirs("hybrid2").isEmpty)
  }

  test("addLiveEvents refuses a stream that no live window reads") {
    val (api, _) = newApi()
    api.registerQuery("oneStream", hybridQuery)
    val handle = api.startQuery("oneStream")
    assert(handle.awaitWarmup())
    val e = intercept[ApiException](handle.addLiveEvents(
      "http://example.org/otherStream", hybridFeed))
    assert(e.msg.contains("http://example.org/otherStream"))
    // nothing reached the live log
    assert(handle.live.map(_.bufferedEventCount) === Some(0L))
    api.stopQuery("oneStream")
    // a query without live windows reads no stream at all
    api.registerQuery("histOnly", historicalOnly)
    val hist = api.startQuery("histOnly")
    assert(hist.live.isEmpty)
    assertThrows[ApiException](hist.addLiveEvents(LiveStream, hybridFeed))
    api.stopQuery("histOnly")
  }

  test("a slow consumer loses the OLDEST results, and each drop is " +
      "counted in droppedResults (server.rs:34 broadcast-channel " +
      "semantics)") {
    val (api, _) = newApi()
    // every pair of a window's readings is a solution: n readings make
    // n * n results per fire
    api.registerQuery("pairs",
      """PREFIX ex: <http://example.org/>
        |SELECT ?a ?b
        |FROM NAMED WINDOW ex:w ON STREAM ex:s [RANGE 1000 STEP 1000]
        |WHERE { WINDOW ex:w { ?a ex:p ?x . ?b ex:p ?y } }""".stripMargin)
    val handle = api.startQuery("pairs")
    val n = 200
    def readings(from: Long) = (0 until n).map(i => RdfEvent(from + i,
      s"http://example.org/e$from-$i", "http://example.org/p", s"$i", ""))
    // two fires with NO consumer polling in between: 2 n² results, more
    // than the queue holds
    handle.addLiveEvents("http://example.org/s", readings(0L) ++
      readings(1000L) :+ CompiledLiveStream.sentinel(2000L))
    val perFire = n.toLong * n
    val dropped = 2 * perFire - QueueCapacity
    assert(handle.live.map(_.droppedResults) === Some(dropped))
    // the kept results are the newest: the tail of the first fire, then
    // all of the second, in order
    val kept = Iterator.continually(handle.tryReceive())
      .takeWhile(_.isDefined).flatten.map(_.timestamp).toSeq
    assert(kept.size === QueueCapacity)
    assert(kept === kept.sorted)
    assert(kept.count(_ == 1000L) === perFire - dropped)
    assert(kept.count(_ == 2000L) === perFire)
    api.stopQuery("pairs")
  }

  test("registry enforces max queries and supports unregister/list") {
    val registry = new QueryRegistry(maxQueries = Some(1))
    val api = new JanusApi(spark, registry, _ => store)
    api.registerQuery("a", historicalOnly)
    assertThrows[ApiException](api.registerQuery("b", historicalOnly))
    assert(registry.list.map(_.queryId) === Seq("a"))
    assert(registry.unregister("a"))
    api.registerQuery("b", historicalOnly)
    assert(registry.list.map(_.queryId) === Seq("b"))
  }
}
