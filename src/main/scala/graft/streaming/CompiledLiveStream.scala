package graft.streaming

import graft.janusql.{JanusQLParser, ParsedJanusQuery, WindowDefinition}
import graft.sparql.{AggItem, Items, Query, SelectQuery, SparqlCompiler}
import graft.storage.EventLog

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LogicalPlan}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{ColumnBridge, DatasetBridge}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, LongType}

import scala.collection.mutable

/** Cluster-scale live RSP path: ARBITRARY compiled queries per window
  * fire, with NO driver-side event buffering (SURVEY.md §7.3.3;
  * reference behavior `/root/reference/src/stream/live_stream_processing.rs:466-552`,
  * which re-evaluates the full registered query on every window close).
  *
  * [[LiveStreamProcessing]] is the semantics-parity twin: it buffers
  * window contents in driver memory, exactly like the reference holds
  * them in-process. That is correct but caps window volume at driver
  * heap. Here the same fire-time semantics run against a DISTRIBUTED
  * snapshot store:
  *
  *   - micro-batches land in an [[EventLog]] (`foreachBatch` append —
  *     immutable parquet files, so a fire reads only the files whose ts
  *     span meets its RANGE, picked on the driver from the log's
  *     per-file index);
  *   - the driver keeps only WINDOW BOOKKEEPING (per-stream event-time
  *     maxima and each window's next close boundary — a few longs, not
  *     events);
  *   - the query is compiled and optimized ONCE per static side
  *     ([[FireTemplate]]) over a placeholder log scan and close list —
  *     any shape [[SparqlCompiler]] supports: BGP joins, GRAPH scopes,
  *     FILTER, aggregates, baseline joins. At each close `c` the
  *     snapshot `[c-range, c)` of every window (W2 merge) plus the
  *     static/baseline DataFrame is that plan with the fire's file list
  *     and close list bound in: no compile, a re-optimization of an
  *     already optimized plan instead of a fresh one, and no
  *     fire-varying literal in generated code, so Spark's code
  *     generation cache serves every fire after the first;
  *   - results go to `resultSink` as a DataFrame: the consumer decides
  *     whether to write, stream on, or collect. The engine never
  *     materializes results on the driver, and every sink frame is
  *     FILE-INDEPENDENT (backed by the advance's eager checkpoint, see
  *     [[advance]]) — a sink may hold frames across micro-batches and
  *     evaluate them long after the log pruned the segments behind
  *     them;
  *   - buckets no future fire can reach are PRUNED from the log
  *     (`EventLog.pruneBefore`) — storage stays bounded by
  *     `max(RANGE) + slide`, the distributed analogue of
  *     [[LiveStreamProcessing]]'s buffer eviction. Pruning is deferred
  *     one advance cycle so the files behind a just-fired snapshot
  *     outlive the fire that produced it.
  *
  * Failure note: `foreachBatch` is at-least-once on restart — a
  * replayed batch re-appends its quads. The reference's in-process bus
  * offers no stronger guarantee; exactly-once would need idempotent
  * (content-keyed) appends.
  *
  * Window semantics mirror [[LiveStreamProcessing]] exactly (asserted
  * by CompiledLiveStreamSpec on the ported timing scenario): a window
  * fires at boundary `c = k*slide` once ITS stream's event time
  * reaches `c`, covers `[c-range, c)`, merges every window's content
  * at `c`, and sentinel events advance time without appearing in
  * results.
  */
final class CompiledLiveStream(
    spark: SparkSession,
    queryText: String,
    log: EventLog,
    resultSink: (DataFrame, Long, Long) => Unit) {

  import CompiledLiveStream._
  import LiveStreamProcessing.{DefaultGraph, SentinelSubject}

  val parsed: ParsedJanusQuery = JanusQLParser.parse(queryText)
  require(parsed.liveWindows.nonEmpty,
    "CompiledLiveStream requires at least one ON STREAM window")

  private val compiledQuery: Query =
    LiveStreamProcessing.buildCombinedQuery(parsed)

  /** Does an EMPTY solution sequence still emit a row? True exactly
    * for aggregate SELECTs with no GROUP BY — the implicit single
    * group yields e.g. `COUNT = 0`. Everything else emits nothing on
    * empty input, so empty-snapshot fires can be skipped outright. */
  private val emitsOnEmptyGroup: Boolean = compiledQuery match {
    case sq: SelectQuery => sq.groupBy.isEmpty && (sq.projection match {
      case Items(is) => is.exists(_.isInstanceOf[AggItem])
      case _         => false
    })
    case _ => false
  }

  // ---- driver-side bookkeeping: boundaries only, never events --------
  private val nextClose = mutable.LinkedHashMap.empty[String, Long]
  private val streamMaxTs = mutable.LinkedHashMap.empty[String, Long]
  parsed.liveWindows.foreach(w => nextClose(w.windowName) = w.slide)

  /** Largest RANGE over all live windows — the snapshot horizon. */
  private val maxRange: Long = parsed.liveWindows.map(_.width).max

  /** Registered stream uris — the only graphs whose event-time maxima
    * drive window closes. */
  private val registeredStreams: Seq[String] =
    parsed.liveWindows.map(_.streamName).distinct

  /** The fire plans for the current static side: built here, and again
    * by [[setStaticData]] — so a hybrid query pays for its template
    * during baseline warm-up, not in its first fire. Read once per
    * advance, so a concurrent swap never splits one. */
  @volatile private var template: FireTemplate =
    new FireTemplate(None, staticHasRows = false)

  /** Static/baseline quads (default-graph side of stream-static joins).
    * A DataFrame — at cluster scale this is the materialized baseline
    * table, not driver memory. Row-level presence is probed ONCE here:
    * the fire-time empty-snapshot shortcut must see a zero-row static
    * frame as "no static data" (parity checks staticQuads.isEmpty
    * row-wise), and a non-empty one lets fires skip their emptiness
    * probe. Rebuilds the fire template over the new static side. */
  def setStaticData(quads: DataFrame): Unit =
    template = new FireTemplate(Some(quads), staticHasRows = !quads.isEmpty)

  /** Process one micro-batch of canonical quads whose `graph` column
    * holds the source STREAM uri. Called from `foreachBatch` (or
    * directly for batch backfills): appends the batch to the
    * distributed log, advances per-stream event time, fires every due
    * window, prunes unreachable buckets.
    *
    * The per-stream event-time maxima never buy a Spark job of their
    * own. A driver-resident batch ([[EventLog.localQuads]] — the API's
    * live events) is appended without any job, so its maxima are read
    * straight from its local rows. A distributed batch's maxima RIDE
    * the append job as observed metrics (`Dataset.observe` — one global
    * `max(when(graph = s, ts))` per registered stream, bounded driver
    * metadata) instead of a separate aggregate-and-collect: at steady
    * fire cadence the scheduling floor of one extra Spark job per
    * micro-batch is the dominant live-path cost. Sentinels are rows
    * like any other — they advance time exactly as before. */
  def processBatch(batch: DataFrame): Unit = synchronized {
    // apply the prune scheduled at the previous advance HERE — "next
    // micro-batch" must mean every next batch, not the next batch that
    // happens to advance a registered stream (rows confined to
    // unregistered graphs used to defer the prune indefinitely)
    pendingPruneCutoff.foreach(log.pruneBefore)
    pendingPruneCutoff = None
    // provably-empty batch (empty LocalRelation — the API's
    // empty-events path, an idle foreachBatch tick): nothing to
    // append, no event time to advance. Plan-level check, no job.
    batch.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if l.data.isEmpty => return
      case _ => ()
    }
    val batchMax: Seq[Option[Long]] = EventLog.localQuads(batch) match {
      case Some(local) =>
        log.appendLocal(local)
        registeredStreams.map(local.maxTimestamp)
      case None =>
        val obs = new org.apache.spark.sql.Observation()
        val maxExprs = registeredStreams.zipWithIndex.map { case (s, i) =>
          max(when(col("graph") === s, col("timestamp"))).as(s"m$i")
        }
        log.append(batch.observe(obs, maxExprs.head, maxExprs.tail: _*))
        val metrics = obs.get
        // null/absent: no rows for this stream in the batch
        registeredStreams.indices.map(i => metrics.get(s"m$i").collect {
          case ts: Long => ts })
    }
    var advanced = false
    registeredStreams.zip(batchMax).foreach {
      case (uri, Some(ts)) =>
        streamMaxTs(uri) =
          math.max(streamMaxTs.getOrElse(uri, Long.MinValue), ts)
        advanced = true
      case _ => ()
    }
    if (advanced) advance()
  }

  /** Attach to a streaming quads DataFrame (canonical 5-column shape,
    * `graph` = stream uri). */
  def attach(quads: DataFrame, checkpointDir: String): StreamingQuery =
    quads.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, _: Long) => processBatch(b) }
      .trigger(Trigger.ProcessingTime(0))
      .start()

  /** Prune cutoff computed at the previous advance, applied at the
    * next: the snapshot DataFrames handed to `resultSink` stay backed
    * by their parquet files until the NEXT micro-batch — pruning
    * immediately after a fire would delete files under a sink that
    * evaluates lazily (async write, downstream stream). */
  private var pendingPruneCutoff: Option[Long] = None

  /** Every fire's eager localCheckpoint, retained so sink-held frames
    * stay file-independent across prunes. Result-sized per fire, but
    * cumulative over the stream's life — [[close]] is the release
    * path for long-running streams. */
  private val firePins = mutable.ArrayBuffer.empty[DataFrame]

  /** Release every retained fire checkpoint. Call once the sink has
    * fully consumed (collected / written out) all frames it was handed
    * — a frame read AFTER close can no longer be recomputed. A stream
    * whose sink consumes eagerly (the API sink collects bindings
    * inside the callback) can close at shutdown; a sink that holds
    * frames across arrivals must consume them first. Idempotent. */
  def close(): Unit = synchronized {
    firePins.foreach(graft.util.Lineage.release)
    firePins.clear()
  }


  /** Fire every due window in close-time order (same order as
    * [[LiveStreamProcessing]]'s one-at-a-time loop — the due set is
    * fixed for the whole advance, so enumerating it up front is
    * equivalent), then schedule the log prune.
    *
    * Every advance evaluates its due fires together ([[fireBatch]]),
    * keyed per fire through the compiler's `extraKeys` channel (the
    * same machinery that makes N historical windows one plan), from the
    * template compiled once per static side. Per advance, Spark runs
    * the baseline broadcast stage (hybrid queries), the eager
    * localCheckpoint that evaluates the fires, and, later, the sink's
    * read of the checkpoint; the driver binds the fire's file list and
    * close list into the template and re-plans it, with no compile and
    * no new generated code. Because the evaluation lands in an EAGER
    * localCheckpoint, every frame handed to `resultSink` is
    * FILE-INDEPENDENT: it stays valid after the log prunes the segments
    * behind it, so a sink may hold frames across arrival chunks and
    * evaluate late (the out-of-order gate entry unions all 29 fire
    * frames at the very end) without re-pinning each one. The pins live
    * until [[close]] — result-sized (aggregate rows per fire) but
    * cumulative over fires, so a long-running stream releases them once
    * its sink has consumed. */
  private def advance(): Unit = {
    // every due (window, close) pair, closes enumerated per window
    val due = parsed.liveWindows.flatMap { w =>
      streamMaxTs.get(w.streamName).toSeq.flatMap { maxTs =>
        Iterator.iterate(nextClose(w.windowName))(_ + w.slide)
          .takeWhile(_ <= maxTs).map(c => (w, c)).toSeq
      }
    }.sortBy(_._2)
    if (due.nonEmpty) {
      fireBatch(due)
      due.groupBy(_._1.windowName).foreach { case (name, fs) =>
        nextClose(name) = fs.map(_._2).max + fs.head._1.slide
      }
    }
    // nothing below (earliest pending close - max range) can enter any
    // future snapshot — those buckets are dropped at the NEXT advance
    // (deferred one cycle so just-fired lazy snapshots stay readable)
    if (nextClose.nonEmpty)
      pendingPruneCutoff = Some(nextClose.values.min - maxRange)
  }

  /** All due fires as ONE distributed evaluation of the keyed template:
    * the log scan reads the live files whose ts span meets the union of
    * the snapshots, rows are assigned to the fires whose `[c-range, c)`
    * span covers them (each row paired with the tiny close list), and
    * the compiled plan runs once with the fire id as an orchestration
    * key. The result is pinned with an eager localCheckpoint and handed
    * to the sink per fire, in close-time order — whole when the advance
    * has a single close, sliced by fire id otherwise.
    *
    * A fire whose every window is EMPTY has no rows under its fire id
    * (a keyed aggregation cannot conjure its group), but the per-fire
    * semantics emit e.g. `COUNT = 0` — those fires re-run through the
    * single-fire path ([[fire]]), whose unkeyed evaluation preserves
    * the implicit-single-group shape. */
  private def fireBatch(due: Seq[(WindowDefinition, Long)]): Unit = {
    val t = template
    val closes = due.map(_._2).distinct.sorted
    val (resultPart, probe) = t.bind(t.keyed, closes)
    val fireIdx = resultPart.schema.fieldIndex(FireCol)
    if (emitsOnEmptyGroup) {
      // single-group aggregates emit AT MOST ONE row per fire — the
      // result set is fire-count-bounded, so it rides the driver like
      // the reference's one-message-per-fire channel
      // (live_stream_processing.rs result bus): ONE collect, then each
      // fire's row becomes a LOCAL frame (LocalTableScan — no Spark
      // job to hand off, none to read downstream, trivially
      // file-independent). The distributed checkpoint path below stays
      // for every shape whose result can be row-per-match.
      val rows = resultPart.collect()
      val present = rows.iterator
        .map(r => r.getLong(fireIdx) -> r).toMap
      val keepIdx = resultPart.schema.fields.indices.filter(_ != fireIdx)
      val outSchema = org.apache.spark.sql.types.StructType(
        keepIdx.map(resultPart.schema.fields))
      // which fires have ANY snapshot row: parity emits nothing at all
      // for an entirely empty snapshot (LiveStreamProcessing.fire's
      // windowQuads.isEmpty && staticQuads.isEmpty shortcut), so those
      // closes are skipped, not evaluated to an implicit-group row.
      // Static rows make every close present; otherwise the template's
      // probe reported them (see FireTemplate.probes), and a plan the
      // optimizer proved empty has no probe and no present close
      val snapHas =
        if (t.staticHasRows) closes.toSet
        else probe.fold(Set.empty[Long])(observedFires)
      due.foreach { case (w, c) =>
        present.get(c) match {
          case Some(r) =>
            val slim = org.apache.spark.sql.Row
              .fromSeq(keepIdx.map(r.get))
            resultSink(spark.createDataFrame(
              java.util.Collections.singletonList(slim), outSchema),
              c - w.width, c)
          case None if snapHas.contains(c) =>
            // snapshot rows exist but zero pattern matches: parity
            // DOES evaluate and emits e.g. COUNT = 0 — re-run through
            // the single-fire path, whose implicit single group
            // preserves that shape
            fire(t, w, c)
          case None => () // empty snapshot — parity emits nothing
        }
      }
      return
    }
    // which fires have solutions rides the checkpoint job the same
    // way, as an observed collect_set — no distinct, no extra job
    val resultObs = new Observation()
    val combined = resultPart
      .observe(resultObs, collect_set(col(FireCol)))
      .localCheckpoint(eager = true)
    firePins += combined
    val present = observedFires(resultObs)
    due.foreach { case (w, c) =>
      // one close: the checkpoint IS the fire's frame — a slice would
      // put the close into generated code as a literal, a new class per
      // fire for the sink's read
      if (present.contains(c))
        resultSink((if (closes.size == 1) combined
          else combined.where(col(FireCol) === c)).drop(FireCol),
          c - w.width, c)
      // else: no solutions for this fire — a non-aggregate (or
      // grouped) query emits nothing on an empty solution sequence,
      // whether the snapshot had rows or not
    }
  }

  /** The fire ids an observed `collect_set(__fire_id)` reported. */
  private def observedFires(obs: Observation): Set[Long] =
    obs.get.values.headOption match {
      case Some(s: scala.collection.Seq[_]) =>
        s.iterator.map(_.asInstanceOf[Long]).toSet
      case _ => Set.empty[Long]
    }

  /** One unkeyed evaluation at close `c` — the [[fireBatch]] fallback
    * for a fire whose snapshot has rows but whose keyed aggregation
    * produced no group (the implicit single group must emit e.g.
    * `COUNT = 0`), from the template's single-fire plan. The result is
    * pinned eagerly before the sink sees it — the file-independence
    * guarantee of [[advance]] holds on every sink handoff, this path
    * included. */
  private def fire(t: FireTemplate, w: WindowDefinition, c: Long): Unit = {
    val out = t.bind(t.single, Seq(c))._1.localCheckpoint(eager = true)
    firePins += out
    resultSink(out, c - w.width, c)
  }

  /** The query's fire plans over one static side, compiled and
    * optimized ONCE ([[SparqlCompiler]]'s only caller here) against a
    * zero-file log scan ([[EventLog.scanOf]]) and a placeholder close
    * list, and kept as optimized logical plans. A fire [[bind]]s its
    * own file list and close list into one of them: re-optimizing the
    * bound plan is a fraction of a fresh compile, and nothing that
    * varies per fire reaches generated code — the file list is a scan
    * input, the close list a referenced literal, and time pruning is
    * the choice of files ([[EventLog.filesBetween]]), not a bound in
    * the plan. */
  private final class FireTemplate(static: Option[DataFrame],
      val staticHasRows: Boolean) {

    private val scan = log.scanOf(Nil)
    private val closeHolder = closeList(TemplateCloses)

    /** Whether a fire must learn which closes have ANY snapshot row —
      * only when it can matter: a query that emits nothing on empty
      * input needs no rows-present/no-groups distinction, and static
      * rows make every close present. The probe rides the snapshot
      * scan the compiled plan performs anyway, as an observed
      * collect_set metric — no second scan, no distinct shuffle, no
      * extra job (collect_set dedups, so a query whose BGP scans the
      * snapshot several times still reports each fire once). */
    private val probes = emitsOnEmptyGroup && !staticHasRows

    /** Every window's rows paired with the closes whose span covers
      * them, plus the static side paired with every close. */
    private def snapshot: DataFrame = {
      val rows = spark.baseRelationToDataFrame(scan)
      // every row paired with every close, as a generator over the
      // close list held in the plan: the same pairs a nested-loop join
      // against a broadcast close table gives, without the job that
      // broadcast costs
      val everyClose = explode(ColumnBridge.column(closeHolder))
      val windowParts = parsed.liveWindows.map { lw =>
        rows.where(col("graph") === lw.streamName &&
            col("subject") =!= SentinelSubject)
          .withColumn(FireCol, everyClose)
          .where(col("timestamp") >= col(FireCol) - lw.width &&
            col("timestamp") < col(FireCol))
          .withColumn("graph", lit(lw.windowName))
      }
      val staticPart = static.map(_.withColumn("graph", lit(DefaultGraph))
        .withColumn(FireCol, everyClose))
      (windowParts ++ staticPart).reduce(_ unionByName _)
    }

    /** All due fires of an advance, keyed by fire id. */
    val keyed: Plan = freeze(SparqlCompiler.compile(
      if (probes) snapshot.observe(ProbeName, collect_set(col(FireCol)))
      else snapshot,
      compiledQuery, Seq(FireCol)))

    /** One fire, unkeyed (see [[fire]]); only aggregate queries reach
      * it, so it is built on first use. */
    lazy val single: Plan =
      freeze(SparqlCompiler.compile(snapshot, compiledQuery))

    private def freeze(df: DataFrame): Plan = {
      val p = df.queryExecution.optimizedPlan
      val closeLists = p.collectWithSubqueries { case n =>
        n.expressions.map(_.collect { case l: Literal
          if l == closeHolder => l }.size).sum
      }.sum
      // fire ids come only from the close list, so a plan without one
      // must be one the optimizer proved empty (a default-graph pattern
      // before any static data arrived)
      require(closeLists > 0 || p.maxRows.contains(0L),
        "the optimized fire plan lost its close list")
      Plan(p, p.collectWithSubqueries {
        case l: LogicalRelation if l.relation eq scan => l }.size,
        closeLists)
    }

    /** `plan` over the live files that can hold rows of `closes`'
      * snapshots and over `closes` (ascending), as a DataFrame; with
      * the Observation the probe reports to when the plan has one. */
    def bind(plan: Plan, closes: Seq[Long])
        : (DataFrame, Option[Observation]) = {
      val fireScan = log.scanOf(
        log.filesBetween(closes.head - maxRange, closes.last - 1))
      val fireCloses = closeList(closes)
      var scans, closeLists = 0
      var probe = Option.empty[(Observation, Long)]
      val bound = plan.optimized.transformUpWithSubqueries {
        case l: LogicalRelation if l.relation eq scan =>
          scans += 1
          l.copy(relation = fireScan)
        case m: CollectMetrics if m.name == ProbeName =>
          // an Observation reports once: a fresh name per fire
          val obs = new Observation()
          probe = Some(obs -> m.dataframeId)
          m.copy(name = obs.name)
      }.transformAllExpressionsWithSubqueries {
        case l: Literal if l == closeHolder =>
          closeLists += 1
          fireCloses
      }
      require(scans == plan.scans && closeLists == plan.closeLists,
        s"fire plan rebind found $scans log scans and $closeLists close " +
          s"lists; the template holds ${plan.scans} and ${plan.closeLists}")
      probe.foreach { case (obs, id) => DatasetBridge.register(spark, obs, id) }
      (DatasetBridge.ofRows(spark, bound), probe.map(_._1))
    }
  }
}

object CompiledLiveStream {
  /** The fire id column: a fire's close time. */
  private val FireCol = "__fire_id"

  /** The probe metric's name in a template; each fire renames it. */
  private val ProbeName = "__fire_probe"

  /** The close list a template is built with. Real closes are positive
    * multiples of a slide, so no fire's list equals it. */
  private val TemplateCloses = Seq(-1L)

  private def closeList(closes: Seq[Long]): Literal =
    Literal.create(closes, ArrayType(LongType, containsNull = false))

  /** An optimized fire plan, with how many log scans and close lists
    * it holds — a rebind must find exactly these. */
  private final case class Plan(optimized: LogicalPlan, scans: Int,
      closeLists: Int)
}
