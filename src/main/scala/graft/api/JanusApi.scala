package graft.api

import graft.baseline.BaselineBootstrap
import graft.core.RdfEvent
import graft.historical.HistoricalExecutor
import graft.janusql._
import graft.sparql.Query
import graft.storage.EventLog
import graft.streaming.CompiledLiveStream

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Orchestration layer (SURVEY.md §2.8 O1–O3 + §2.4 B5) — rebuild of
  * `/root/reference/src/registry/query_registry.rs` and
  * `src/api/janus_api.rs:100-515`.
  *
  * Lifecycle: register (parse + store, no execution) → start (historical
  * workers + live processor + async baseline warm-up, all feeding ONE
  * unified result queue) → stop. Statuses mirror the reference enum:
  * Registered → WarmingBaseline (hybrid only) → Running →
  * Completed/Stopped/Failed.
  */
object JanusApi {

  sealed trait ExecutionStatus extends Product with Serializable
  object ExecutionStatus {
    case object Registered extends ExecutionStatus
    case object WarmingBaseline extends ExecutionStatus
    case object Running extends ExecutionStatus
    case object Stopped extends ExecutionStatus
    case object Completed extends ExecutionStatus
    final case class Failed(msg: String) extends ExecutionStatus
  }

  sealed trait ResultSource extends Product with Serializable
  object ResultSource {
    case object Historical extends ResultSource
    case object Live extends ResultSource
  }

  /** Unified result envelope (`janus_api.rs:33-47`). */
  final case class QueryResult(
      queryId: String,
      timestamp: Long,
      source: ResultSource,
      bindings: Seq[Map[String, String]])

  final case class QueryMetadata(
      queryId: String,
      queryText: String,
      parsed: ParsedJanusQuery,
      baselineMode: BaselineMode,
      registeredAt: Long)

  final case class ApiException(msg: String) extends RuntimeException(msg)

  /** A read-only snapshot of a query's live side: results its queue
    * evicted unread, and rows committed to its live log. */
  final case class LiveCounters(droppedResults: Long, bufferedEventCount: Long)

  /** Capacity of a query's one result queue. A producer that finds it
    * full evicts the OLDEST result and counts the drop, like the
    * reference's broadcast channel, which drops with a `Lagged(n)`
    * signal instead of growing without limit (`server.rs:34`). */
  private[api] val QueueCapacity = 65536
}

/** O1: the query registry — register (dup check, optional max), get,
  * unregister, list (`query_registry.rs:61-198`). */
final class QueryRegistry(maxQueries: Option[Int] = None) {
  import JanusApi._

  private val queries = new ConcurrentHashMap[String, QueryMetadata]()
  private val executionCounts = new ConcurrentHashMap[String, AtomicLong]()

  def register(queryId: String, text: String, parsed: ParsedJanusQuery,
      baselineMode: BaselineMode): QueryMetadata = {
    maxQueries.foreach { max =>
      if (queries.size >= max)
        throw ApiException(s"Registry is full (max $max queries)")
    }
    val meta = QueryMetadata(queryId, text, parsed, baselineMode,
      System.currentTimeMillis())
    if (queries.putIfAbsent(queryId, meta) != null)
      throw ApiException(s"Query '$queryId' is already registered")
    executionCounts.put(queryId, new AtomicLong(0))
    meta
  }

  def get(queryId: String): Option[QueryMetadata] =
    Option(queries.get(queryId))

  def unregister(queryId: String): Boolean = {
    executionCounts.remove(queryId)
    queries.remove(queryId) != null
  }

  def list: Seq[QueryMetadata] = queries.values.asScala.toSeq

  def executionCount(queryId: String): Long =
    Option(executionCounts.get(queryId)).map(_.get).getOrElse(0L)

  private[api] def incrementExecutions(queryId: String): Unit =
    Option(executionCounts.get(queryId)).foreach(_.incrementAndGet())
}

/** Top-level API coordinating registry, historical quad sources, and
  * the live engine ([[CompiledLiveStream]]). `logProvider` maps a
  * window's source IRI to its quads DataFrame (e.g. an [[EventLog]]
  * read). `scaleLiveLogFactory` says where each query's live log lives
  * (query id → log, owned by the caller); without it, a query with a
  * live window gets an [[EventLog]] in a temporary directory of its
  * own, bucketed by its smallest live STEP and deleted at
  * [[stopQuery]]. */
final class JanusApi(
    spark: SparkSession,
    registry: QueryRegistry,
    logProvider: String => DataFrame,
    clock: () => Long = () => System.currentTimeMillis(),
    scaleLiveLogFactory: Option[String => EventLog] = None) {

  import JanusApi._

  final class QueryHandle private[JanusApi] (
      val queryId: String,
      results: ResultQueue,
      statusRef: java.util.concurrent.atomic.AtomicReference[ExecutionStatus],
      liveSide: Option[LiveSide],
      threads: Seq[Thread],
      warmupDone: CountDownLatch) {

    /** Feed events of `streamUri` to the live engine, which appends them
      * to the query's live log and fires every window they close before
      * returning: each fire's results are in the queue by then. A
      * stream that none of the query's live windows reads is refused,
      * since no fire would ever read its rows. */
    def addLiveEvents(streamUri: String, events: Seq[RdfEvent]): Unit =
      liveSide.filter(_.streams.contains(streamUri)).getOrElse(
        throw ApiException(
          s"Query '$queryId' has no live window on stream '$streamUri'"))
        .feed(RdfEvent.toDF(spark, events.map(_.copy(graph = streamUri))))

    /** The live side's counters (None: the query has no live window);
      * after a stop, those it had when it stopped. */
    def live: Option[LiveCounters] = liveSide.map(_.counters)

    def status: ExecutionStatus = statusRef.get

    def receive(timeoutMs: Long = 5000): Option[QueryResult] =
      results.poll(timeoutMs)

    def tryReceive(): Option[QueryResult] = results.poll(0)

    /** Block until the baseline warm-up finished (test convenience). */
    def awaitWarmup(timeoutMs: Long = 30000): Boolean =
      warmupDone.await(timeoutMs, TimeUnit.MILLISECONDS)

    private[api] def shutdown(): Unit = {
      threads.foreach(_.join(100))
      threads.foreach(_.interrupt())
      statusRef.set(ExecutionStatus.Stopped)
      liveSide.foreach(_.close())
    }
  }

  /** A query's one bounded result queue: a producer that finds it full
    * evicts the OLDEST result and counts the drop (see
    * [[JanusApi.QueueCapacity]]). */
  private final class ResultQueue {
    private val queue = new LinkedBlockingQueue[QueryResult](QueueCapacity)
    private val dropped = new AtomicLong

    def put(r: QueryResult): Unit =
      while (!queue.offer(r))
        if (queue.poll() != null) dropped.incrementAndGet()

    def poll(timeoutMs: Long): Option[QueryResult] =
      Option(queue.poll(timeoutMs, TimeUnit.MILLISECONDS))

    def droppedCount: Long = dropped.get
  }

  /** A query's live engine and the log it appends to. `ownedDir` is
    * the temporary directory holding a log this api made, deleted at
    * [[close]]; a factory's log belongs to its caller. Feeding and
    * closing take the same lock, so a closed log is never written
    * again. */
  private final class LiveSide(queryId: String,
      val engine: CompiledLiveStream, log: EventLog, results: ResultQueue,
      ownedDir: Option[Path]) {
    private var closedWith = Option.empty[LiveCounters]

    /** The streams the query's live windows read. */
    val streams: Set[String] =
      engine.parsed.liveWindows.map(_.streamName).toSet

    def feed(batch: DataFrame): Unit = synchronized {
      if (closedWith.isDefined)
        throw ApiException(s"Query '$queryId' is not running")
      engine.processBatch(batch)
    }

    def counters: LiveCounters = synchronized(closedWith.getOrElse(
      LiveCounters(results.droppedCount, log.committedRows)))

    def close(): Unit = synchronized {
      closedWith = Some(counters)
      ownedDir.foreach(deleteDir)
    }
  }

  private val running = new ConcurrentHashMap[String, QueryHandle]()
  /** Final status of queries that have been stopped — `status()` keeps
    * reporting Stopped after the handle leaves `running` (the
    * reference's status machine does not forget a stop). */
  private val lastStatus =
    new ConcurrentHashMap[String, ExecutionStatus]()
  private val startLock = new Object

  /** Record a failure unless the query was deliberately stopped — a
    * worker interrupted by shutdown must not overwrite Stopped with
    * Failed. */
  private def failUnlessStopped(
      statusRef: java.util.concurrent.atomic.AtomicReference[ExecutionStatus],
      msg: String): Unit = {
    statusRef.getAndUpdate {
      case ExecutionStatus.Stopped => ExecutionStatus.Stopped
      case _ => ExecutionStatus.Failed(msg)
    }
    ()
  }

  def registerQuery(queryId: String, janusql: String,
      baselineMode: BaselineMode = BaselineMode.Aggregate): QueryMetadata = {
    val parsed =
      try JanusQLParser.parse(janusql)
      catch {
        case e: JanusQLParser.JanusParseException =>
          throw ApiException(s"Failed to parse JanusQL query: ${e.msg}")
      }
    // a (re-)registration resets the status machine to Registered: a
    // stale Stopped from a previous lifecycle must not shadow it, and
    // retired ids must not accumulate entries forever
    lastStatus.remove(queryId)
    registry.register(queryId, janusql, parsed, baselineMode)
  }

  /** Registry removal also drops the terminal-status memory — without
    * this, ids deleted over the HTTP API leak lastStatus entries in a
    * long-lived server. */
  def unregisterQuery(queryId: String): Boolean = {
    lastStatus.remove(queryId)
    registry.unregister(queryId)
  }

  def status(queryId: String): Option[ExecutionStatus] =
    Option(running.get(queryId)).map(_.status)
      .orElse(Option(lastStatus.get(queryId)))
      .orElse(registry.get(queryId).map(_ => ExecutionStatus.Registered))

  /** O2: start — historical workers, live engine, baseline warm-up,
    * one unified result queue (`janus_api.rs:197-515`). Serialized under
    * a lock: a naked check-then-put would let two concurrent starts of
    * the same id both succeed, leaking the first handle's threads. */
  def startQuery(queryId: String): QueryHandle = startLock.synchronized {
    val meta = registry.get(queryId).getOrElse(
      throw ApiException(s"Query '$queryId' not found in registry"))
    if (running.containsKey(queryId))
      throw ApiException(s"Query '$queryId' is already running")
    lastStatus.remove(queryId)

    val parsed = meta.parsed
    val results = new ResultQueue
    val isHybrid =
      parsed.liveWindows.nonEmpty && parsed.historicalWindows.nonEmpty
    val statusRef = new java.util.concurrent.atomic.AtomicReference[ExecutionStatus](
      if (isHybrid) ExecutionStatus.WarmingBaseline else ExecutionStatus.Running)
    val warmupDone = new CountDownLatch(if (isHybrid) 1 else 0)

    val liveSide =
      if (parsed.liveWindows.isEmpty) None
      else Some(openLive(meta, results))

    // historical workers: one thread per historical window, except the
    // windows that feed a hybrid query's baseline (USING BASELINE names
    // the window, or names none): those run once, on the warm-up thread,
    // which emits their Historical results from the same pass
    val now = clock()
    val targetWindow = parsed.baseline.map(_.windowName)
    val (baselineWindows, workerWindows) =
      parsed.compiledHistoricalQueries.partition { case (window, _) =>
        isHybrid && targetWindow.forall(_ == window.windowName)
      }
    def emit(ts: Long, bindings: Seq[Map[String, String]]): Unit = {
      registry.incrementExecutions(queryId)
      results.put(QueryResult(queryId, ts, ResultSource.Historical, bindings))
    }
    val historicalThreads = workerWindows.map { case (window, query) =>
      val t = new Thread(() => {
        try evaluateWindow(window, query, now).foreach {
          case (ts, bindings) => emit(ts, bindings)
        }
        catch {
          case _: InterruptedException => () // shutdown interrupt
          case e: Exception =>
            failUnlessStopped(statusRef, e.getMessage)
        }
      }, s"graft-hist-$queryId-${window.windowName}")
      t.setDaemon(true)
      t.start()
      t
    }

    // B5: async baseline warm-up for hybrid queries — evaluate the
    // baseline windows (emitting each batch as a Historical result),
    // fold the same batches into baseline statements, materialize them
    // into the live static data, flip WarmingBaseline → Running
    // (`janus_api.rs:352-412`)
    val baselineThread = if (isHybrid) {
      val t = new Thread(() => {
        try {
          val mode = parsed.baseline.map(_.mode).getOrElse(meta.baselineMode)
          val statements = computeBaseline(baselineWindows, mode, now, emit)
          liveSide.foreach(_.engine.setStaticData(RdfEvent.toDF(
            spark, BaselineBootstrap.asStaticQuads(statements))))
          if (statusRef.compareAndSet(ExecutionStatus.WarmingBaseline,
            ExecutionStatus.Running)) ()
        } catch {
          case _: InterruptedException => () // shutdown interrupt
          case e: Exception =>
            failUnlessStopped(statusRef, e.getMessage)
        } finally warmupDone.countDown()
      }, s"graft-baseline-$queryId")
      t.setDaemon(true)
      t.start()
      Some(t)
    } else None

    // completion watcher: historical-only queries flip to Completed once
    // every window worker finished (`janus_api.rs` status transitions)
    if (liveSide.isEmpty) {
      val t = new Thread(() => {
        historicalThreads.foreach(_.join())
        statusRef.compareAndSet(ExecutionStatus.Running,
          ExecutionStatus.Completed)
      }, s"graft-complete-$queryId")
      t.setDaemon(true)
      t.start()
    }

    val handle = new QueryHandle(queryId, results, statusRef, liveSide,
      historicalThreads ++ baselineThread.toSeq, warmupDone)
    running.put(queryId, handle)
    handle
  }

  /** The live side of a query with a live window: the one live engine,
    * over the factory's log or over a log in a temporary directory of
    * its own, delivering one QueryResult per solution. Each fire's rows
    * arrive already on the driver, so delivering them runs no Spark job
    * and plans nothing. */
  private def openLive(meta: QueryMetadata, results: ResultQueue): LiveSide = {
    val queryId = meta.queryId
    val (log, ownedDir) = scaleLiveLogFactory match {
      case Some(factory) => (factory(queryId), None)
      case None =>
        val dir = Files.createTempDirectory(
          "graft-live-" + queryId.filter(_.isLetterOrDigit))
        (new EventLog(spark, dir.resolve("log").toString,
          bucketMs = meta.parsed.liveWindows.map(_.slide).min), Some(dir))
    }
    val sink: (Seq[Row], StructType, Long, Long) => Unit =
      (rows, schema, _, to) => {
        val toBinding = rowToBinding(schema.fieldNames, Seq.empty) _
        rows.foreach { r =>
          registry.incrementExecutions(queryId)
          results.put(QueryResult(queryId, to, ResultSource.Live,
            Seq(toBinding(r))))
        }
      }
    val engine =
      try new CompiledLiveStream(spark, meta.queryText, log, sink)
      catch { case e: Throwable => ownedDir.foreach(deleteDir); throw e }
    new LiveSide(queryId, engine, log, results, ownedDir)
  }

  private def deleteDir(dir: Path): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)

  def stopQuery(queryId: String): Unit = {
    val handle = Option(running.remove(queryId)).getOrElse(
      throw ApiException(s"Query '$queryId' is not running"))
    handle.shutdown()
    lastStatus.put(queryId, handle.status)
  }

  /** All sliding-window batches in window order — one Seq per window id
    * 0..windowCount-1, with an EMPTY batch for windows with no solutions
    * (the reference sends one batch per window regardless,
    * janus_api.rs:276-298, so a LAST-mode baseline over an empty newest
    * window clears to empty). Streams windows through a range-partitioned
    * local iterator, so the driver holds roughly one window at a time
    * instead of the full result set. */
  private def slidingBatches(out: DataFrame,
      spec: HistoricalExecutor.SlidingSpec)
      : Iterator[Seq[Map[String, String]]] = {
    val cols = out.columns
    val drop = Seq(HistoricalExecutor.WindowIdCol,
      "timestamp_from", "timestamp_to")
    val idCol = org.apache.spark.sql.functions.col(
      HistoricalExecutor.WindowIdCol)
    // range partitions are globally ordered and toLocalIterator fetches
    // one partition at a time → rows arrive in window-id order. The
    // compiled plan may have ORDERED rows within each window (ORDER BY
    // compiles to a sort over (window id, keys)) — a bare re-sort on
    // the id alone would scramble it. Capturing a monotonic sequence id
    // BEFORE the range shuffle (nondeterministic expression, so
    // Catalyst cannot eliminate the upstream sort past it) and
    // tie-breaking on it preserves the per-window order through the
    // shuffle.
    val seqCol = "__graft_seq"
    val rows = out
      .withColumn(seqCol,
        org.apache.spark.sql.functions.monotonically_increasing_id())
      .repartitionByRange(idCol)
      .sortWithinPartitions(idCol,
        org.apache.spark.sql.functions.col(seqCol))
      .drop(seqCol)
      .toLocalIterator().asScala.buffered
    (0L until spec.windowCount).iterator.map { k =>
      val batch = Seq.newBuilder[Map[String, String]]
      while (rows.hasNext &&
        rows.head.getAs[Long](HistoricalExecutor.WindowIdCol) == k) {
        batch += rowToBinding(cols, drop)(rows.next())
      }
      batch.result()
    }
  }

  /** One historical window's result batches with their Historical
    * timestamps: a fixed window yields one batch at its END; a sliding
    * window yields one batch per window, in window order and empty
    * windows included, as the reference does (janus_api.rs:276-298;
    * [[slidingBatches]]), all at `now`. Both the
    * window workers and the baseline warm-up evaluate through it. */
  private def evaluateWindow(window: WindowDefinition, query: Query,
      now: Long): Iterator[(Long, Seq[Map[String, String]])] = {
    val quads = logProvider(window.streamName)
    window.windowType match {
      case WindowType.HistoricalFixed =>
        val out = HistoricalExecutor.executeFixed(quads, query,
          window.start.get, window.end.get)
        Iterator.single(window.end.get ->
          collectBindings(out, Seq("timestamp_from", "timestamp_to")))
      case WindowType.HistoricalSliding =>
        val spec = HistoricalExecutor.SlidingSpec(
          window.offset.get, window.width, window.slide)
        slidingBatches(HistoricalExecutor.executeSliding(quads, query,
          now, spec), spec).map(now -> _)
      case WindowType.Live => Iterator.empty
    }
  }

  /** Baseline over the windows that feed it (`janus_api.rs:575-670`),
    * each evaluated once: every batch goes to `emit` as it streams by,
    * then into the fold. Statements are computed PER historical window
    * and concatenated (janus_api.rs:606-640): LAST-mode clearing applies
    * only across one window's sub-batches, never across window
    * definitions, and AGGREGATE never blends means across windows. */
  private def computeBaseline(windows: Seq[(WindowDefinition, Query)],
      mode: BaselineMode, now: Long,
      emit: (Long, Seq[Map[String, String]]) => Unit)
      : Seq[(String, String, String)] = {
    val bootMode = mode match {
      case BaselineMode.Last      => BaselineBootstrap.Last
      case BaselineMode.Aggregate => BaselineBootstrap.Aggregate
    }
    windows.flatMap { case (window, query) =>
      BaselineBootstrap.statementsLocal(
        evaluateWindow(window, query, now).map { case (ts, bindings) =>
          emit(ts, bindings)
          bindings
        }, bootMode)
    }
  }

  private def collectBindings(df: DataFrame, drop: Seq[String])
      : Seq[Map[String, String]] = {
    val cols = df.columns
    df.collect().toSeq.map(rowToBinding(cols, drop))
  }

  private def rowToBinding(cols: Array[String], drop: Seq[String])(
      row: Row): Map[String, String] =
    cols.zipWithIndex.collect {
      case (name, i) if !drop.contains(name) && !row.isNullAt(i) =>
        name -> String.valueOf(row.get(i))
    }.toMap
}
