package graft.streaming

import graft.core.RdfEvent
import graft.janusql.{JanusQLParser, ParsedJanusQuery, WindowDefinition}
import graft.sparql.{AggItem, GBgp, GBind, GGroup, GMinus, GOptional, GPath,
  GSubquery, GUnion, GValues, GroupPattern, Iri, Items, Query, SelectQuery,
  SparqlCompiler, SparqlParser, Star, Term, VarItem}
import graft.storage.EventLog

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{GenericRowWithSchema, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LogicalPlan}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{ColumnBridge, DatasetBridge}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, LongType, StructType}

import java.util.concurrent.atomic.AtomicReference
import scala.collection.mutable

/** The live RSP engine (SURVEY.md §2.2 W1/W2/W5; reference behavior
  * `src/stream/live_stream_processing.rs:466-552` in the reference,
  * which re-evaluates the full registered query on every window close):
  * ARBITRARY compiled queries per window fire, with NO driver-side event
  * buffering (SURVEY.md §7.3.3). The reference holds window contents
  * in-process; here the same fire-time semantics run against a
  * DISTRIBUTED snapshot store:
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
  *   - each advance evaluates its due fires with ONE Spark action and
  *     hands every fire's rows, with their schema, to `resultSink`
  *     (see [[fireBatch]]): they are already on the driver, so no file
  *     backs them and a sink may hold them for as long as it likes. The
  *     cost is that results reach the driver inside the engine — what a
  *     consumer that collects anyway (the API's sink delivers one result
  *     per solution) pays itself;
  *   - buckets no future fire can reach are PRUNED from the log
  *     (`EventLog.pruneBefore`) after each advance — storage stays
  *     bounded by `max(RANGE) + slide`, the distributed analogue of the
  *     reference's eviction on window slide.
  *
  * Failure note: `foreachBatch` is at-least-once on restart — a
  * replayed batch re-appends its quads. The reference's in-process bus
  * offers no stronger guarantee; exactly-once would need idempotent
  * (content-keyed) appends.
  *
  * Window semantics are the reference's (CompiledLiveStreamSpec compares
  * them against a driver-buffered port of it): a window fires at
  * boundary `c = k*slide` once ITS stream's event time reaches `c`,
  * covers `[c-range, c)`, merges every window's content at `c`, and
  * sentinel events ([[CompiledLiveStream.sentinel]]) advance time
  * without appearing in results.
  */
final class CompiledLiveStream(
    spark: SparkSession,
    queryText: String,
    log: EventLog,
    resultSink: (Seq[Row], StructType, Long, Long) => Unit) {

  import CompiledLiveStream._

  val parsed: ParsedJanusQuery = JanusQLParser.parse(queryText)
  require(parsed.liveWindows.nonEmpty,
    "CompiledLiveStream requires at least one ON STREAM window")

  private val compiledQuery: Query = buildCombinedQuery(parsed)

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

  /** The fire plans for the current static side, rebuilt by each
    * [[setStaticData]]. A query without historical windows has no
    * static side to wait for, so it builds its plans here and its first
    * fire does not pay for them. A hybrid query's static side is still
    * to come (the baseline warm-up hands it over), so nothing is built
    * here: its first build is the one over the baseline, during
    * warm-up, or — when a fire comes first — the static-less one on
    * demand ([[fireTemplate]]). Read once per advance, so a concurrent
    * swap never splits one. */
  private val template = new AtomicReference[Option[FireTemplate]](
    if (parsed.historicalWindows.nonEmpty) None
    else Some(new FireTemplate(None, staticHasRows = false)))

  /** The current fire plans; the static-less ones when no static side
    * has arrived yet. A [[setStaticData]] racing the first fire wins:
    * the on-demand build is only installed over no template at all. */
  private def fireTemplate: FireTemplate = template.get.getOrElse {
    template.compareAndSet(None,
      Some(new FireTemplate(None, staticHasRows = false)))
    template.get.get
  }

  /** Static/baseline quads (default-graph side of stream-static joins).
    * A DataFrame — at cluster scale this is the materialized baseline
    * table, not driver memory. Row-level presence is probed ONCE here:
    * the fire-time empty-snapshot shortcut must see a zero-row static
    * frame as "no static data" (the reference checks its static
    * quads row-wise), and a non-empty one lets fires skip their emptiness
    * probe. Rebuilds the fire template over the new static side. */
  def setStaticData(quads: DataFrame): Unit =
    template.set(Some(
      new FireTemplate(Some(quads), staticHasRows = !quads.isEmpty)))

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

  /** Fire every due window in close-time order (the order of the
    * reference's one-at-a-time loop — the due set is fixed for the whole
    * advance, so enumerating it up front is equivalent), then prune the
    * log.
    *
    * Every advance evaluates its due fires together ([[fireBatch]]),
    * keyed per fire through the compiler's `extraKeys` channel (the
    * same machinery that makes N historical windows one plan), from the
    * template compiled once per static side. Per advance, Spark runs
    * the one action that evaluates the fires. For a hybrid query its
    * join broadcasts the fire's live-log scan (the build side); the
    * baseline is a local table the join streams. The driver binds the
    * fire's file list and close list into the template and re-plans it,
    * with no compile and no new generated code. The fires' rows are on
    * the driver once that action returns, so nothing the sink holds
    * reads the log, and the buckets no future snapshot can reach are
    * dropped at once. */
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
    // future snapshot
    if (nextClose.nonEmpty) log.pruneBefore(nextClose.values.min - maxRange)
  }

  /** All due fires as ONE distributed evaluation of the keyed template:
    * the log scan reads the live files whose ts span meets the union of
    * the snapshots, rows are assigned to the fires whose `[c-range, c)`
    * span covers them (each row paired with the tiny close list), and
    * the compiled plan runs once with the fire id as an orchestration
    * key. That one action ([[collectRows]]) brings the result to the
    * driver, and each fire's rows go to the sink, in close-time order.
    *
    * The driver bound is the advance's result: at most one row per fire
    * for a single-group aggregate (the reference's one-message-per-fire
    * channel, live_stream_processing.rs result bus), one row per match
    * otherwise. A consumer that keeps its rows (the API's sink does)
    * holds them on the driver in any case; a sink that writes them out
    * receives them through the driver.
    *
    * A fire with no result rows emits nothing, except for a
    * single-group aggregate whose snapshot has rows: per-fire semantics
    * emit e.g. `COUNT = 0` there, which a keyed aggregation cannot (it
    * has no group to conjure), so that fire re-runs through the
    * single-fire path ([[fire]]), whose unkeyed evaluation preserves
    * the implicit-single-group shape. */
  private def fireBatch(due: Seq[(WindowDefinition, Long)]): Unit = {
    val t = fireTemplate
    val closes = due.map(_._2).distinct.sorted
    val (resultPart, probe) = t.bind(t.keyed, closes)
    val fireIdx = resultPart.schema.fieldIndex(FireCol)
    val keepIdx = resultPart.schema.fields.indices.filter(_ != fireIdx)
    val outSchema = StructType(keepIdx.map(resultPart.schema.fields))
    // each fire's rows without the fire id, in result order
    val byFire = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Row]]
    collectRows(resultPart).foreach { r =>
      byFire.getOrElseUpdate(r.getLong(fireIdx), mutable.ArrayBuffer.empty) +=
        new GenericRowWithSchema(keepIdx.map(r.get).toArray, outSchema)
    }
    // which fires have ANY snapshot row: the reference emits nothing
    // at all for an entirely empty snapshot (no window and no static
    // quads), so those closes are skipped, not evaluated to an
    // implicit-group row.
    // Static rows make every close present; otherwise the template's
    // probe reported them (see FireTemplate.probes), and a plan the
    // optimizer proved empty has no probe and no present close
    lazy val snapHas =
      if (t.staticHasRows) closes.toSet
      else probe.fold(Set.empty[Long])(observedFires)
    due.foreach { case (w, c) =>
      byFire.get(c) match {
        case Some(rows) => resultSink(rows.toSeq, outSchema, c - w.width, c)
        case None if emitsOnEmptyGroup && snapHas.contains(c) =>
          fire(t, w, c)
        case None => () // no solutions for this fire
      }
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
    * `COUNT = 0`), from the template's single-fire plan. Its one row
    * reaches the sink like every other fire's. */
  private def fire(t: FireTemplate, w: WindowDefinition, c: Long): Unit = {
    val out = t.bind(t.single, Seq(c))._1
    resultSink(collectRows(out).toSeq, out.schema, c - w.width, c)
  }

  /** `df`'s rows on the driver, from one Spark action: the engine's only
    * result pull (see [[fireBatch]] for what bounds it). */
  private def collectRows(df: DataFrame): Array[Row] = df.collect()

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
  val SentinelSubject = "urn:rsp:sentinel:subject"
  val SentinelPredicate = "urn:rsp:sentinel:predicate"
  val SentinelObject = "urn:rsp:sentinel:object"

  /** Graph tag for static/baseline data in the per-fire snapshot (the
    * reference's default graph). */
  val DefaultGraph = "urn:graft:default"

  /** Sentinel close (`live_stream_processing.rs:248-264`): fed on a
    * stream, it advances that stream's event time to `finalTs`, so
    * every window up to it fires, and never appears in results. */
  def sentinel(finalTs: Long): RdfEvent =
    RdfEvent(finalTs, SentinelSubject, SentinelPredicate, SentinelObject, "")

  /** Build the single combined SPARQL-subset query for live evaluation:
    * WINDOW blocks become per-window GRAPH scopes, non-window patterns
    * (baseline joins) are scoped to the static default graph, filters
    * stay top-level — reproducing the reference's store layout (window
    * quads in window named graphs, static data in the default graph,
    * `live_stream_processing.rs:509-552`).
    */
  def buildCombinedQuery(parsed: ParsedJanusQuery): Query = {
    val prefixText = parsed.prefixes
      .map { case (p, ns) => s"PREFIX $p: <$ns>" }.mkString("\n")

    def parseGroup(body: String): GroupPattern =
      SparqlParser.parse(s"$prefixText\nSELECT * WHERE {\n$body\n}")
        .asInstanceOf[SelectQuery].where

    // recursively pin every pattern of a group (incl. those inside
    // OPTIONAL/UNION/MINUS/subqueries and path patterns) to a graph —
    // window bodies may use the full SPARQL surface
    def scope(g: GroupPattern, graph: Term): GroupPattern = g.copy(
      elems = g.elems.map {
        case GBgp(ps) =>
          GBgp(ps.map(p => p.copy(g = p.g.orElse(Some(graph)))))
        case GPath(pp)     => GPath(pp.copy(g = pp.g.orElse(Some(graph))))
        case GOptional(og) => GOptional(scope(og, graph))
        case GMinus(mg)    => GMinus(scope(mg, graph))
        case GUnion(alts)  => GUnion(alts.map(scope(_, graph)))
        case GSubquery(sq) => GSubquery(sq.copy(where = scope(sq.where, graph)))
        case GGroup(gg)    => GGroup(scope(gg, graph))
        case other @ (_: GBind | _: GValues) => other
      })

    def merge(gs: Seq[GroupPattern]): GroupPattern =
      GroupPattern(gs.flatMap(_.elems), gs.flatMap(_.filters))

    // static patterns + filters (everything outside WINDOW blocks)
    val nonWindow =
      JanusQLParser.extractNonWindowWherePatterns(parsed.whereClause)
    val staticScoped =
      if (nonWindow.trim.isEmpty) GroupPattern(Nil, Nil)
      else scope(parseGroup(nonWindow), Iri(DefaultGraph))

    // each live window's body, scoped to the window graph
    val windowGroups = parsed.liveWindows.flatMap { w =>
      JanusQLParser.findWindowBody(parsed.ast.whereWindows, w,
        parsed.prefixes).map(body => (w, parseGroup(body)))
    }
    val windowScoped = windowGroups.map { case (w, g) =>
      scope(g, Iri(w.windowName))
    }

    val where = merge(staticScoped +: windowScoped)

    // projection from the SELECT clause (parse it against a dummy body)
    val projection = {
      val sel =
        if (parsed.selectClause.trim.isEmpty) "SELECT *"
        else parsed.selectClause
      SparqlParser.parse(s"$prefixText\n$sel WHERE { ?__a ?__b ?__c }") match {
        case q: SelectQuery => q.projection
        case _              => Star
      }
    }
    // drop projected vars that no pattern binds (e.g. historical-only
    // vars in a hybrid query) — the reference's rspql adaptation keeps
    // the original SELECT and Oxigraph returns unbound as absent
    val bound = where.boundVars.toSet
    val prunedProjection = projection match {
      case Items(items) =>
        val kept = items.filter {
          case VarItem(n) => bound.contains(n)
          case _          => true
        }
        if (kept.isEmpty) Star else Items(kept)
      case Star => Star
    }

    SelectQuery(prunedProjection, where, groupBy = Nil)
  }

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
