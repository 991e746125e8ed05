package graft.streaming

import graft.janusql.{JanusQLParser, ParsedJanusQuery, WindowDefinition}
import graft.sparql.{AggItem, Items, Query, SelectQuery, SparqlCompiler}
import graft.storage.EventLog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

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
  *     partitioned parquet, so window reads prune to the buckets the
  *     RANGE covers);
  *   - the driver keeps only WINDOW BOOKKEEPING (per-stream event-time
  *     maxima and each window's next close boundary — a few longs, not
  *     events);
  *   - at each close `c`, the snapshot `[c-range, c)` of every window
  *     (W2 merge) plus the static/baseline DataFrame is assembled
  *     lazily and the COMPILED query plan — any shape
  *     [[SparqlCompiler]] supports: BGP joins, GRAPH scopes, FILTER,
  *     aggregates, baseline joins — executes as one distributed job;
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

  import LiveStreamProcessing.{DefaultGraph, SentinelSubject}

  val parsed: ParsedJanusQuery = JanusQLParser.parse(queryText)
  require(parsed.liveWindows.nonEmpty,
    "CompiledLiveStream requires at least one ON STREAM window")

  private val compiledQuery: Query =
    LiveStreamProcessing.buildCombinedQuery(parsed)

  /** Static/baseline quads (default-graph side of stream-static joins).
    * A DataFrame — at cluster scale this is the materialized baseline
    * table, not driver memory. */
  @volatile private var staticDF: Option[DataFrame] = None
  // row-level presence, probed ONCE at registration: the fire-time
  // empty-snapshot shortcut must see a zero-row static frame as
  // "no static data" (parity checks staticQuads.isEmpty row-wise),
  // and a non-empty one lets fires skip their emptiness probe
  @volatile private var staticHasRows: Boolean = false

  def setStaticData(quads: DataFrame): Unit = {
    staticDF = Some(quads)
    staticHasRows = !quads.isEmpty
  }

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
    * Every advance evaluates its due fires as ONE distributed job
    * ([[fireBatch]]) — a fire per Spark job would pay ~0.3 s of
    * scheduling floor each, the dominant cost at high fire rates —
    * keyed per fire through the compiler's `extraKeys` channel (the
    * same machinery that makes N historical windows one plan). Because
    * that one job lands in an EAGER localCheckpoint, every frame
    * handed to `resultSink` is FILE-INDEPENDENT: it stays valid after
    * the log prunes the segments behind it, so a sink may hold frames
    * across arrival chunks and evaluate late (the out-of-order gate
    * entry unions all 29 fire frames at the very end) without
    * re-pinning each one. The pins live until [[close]] — result-sized
    * (aggregate rows per fire) but cumulative over fires, so a
    * long-running stream releases them once its sink has consumed. */
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

  /** All due fires as ONE distributed evaluation: each live window
    * contributes a single time-pruned log scan over the union of its
    * snapshots, rows are assigned to the fires whose `[c-range, c)`
    * span covers them (each row paired with the tiny close list),
    * and the compiled plan runs once with the fire id as an
    * orchestration key. The result is pinned with an eager
    * localCheckpoint — the one Spark job — and sliced per fire for the
    * sink, in close-time order.
    *
    * A fire whose every window is EMPTY has no rows under its fire id
    * (a keyed aggregation cannot conjure its group), but the per-fire
    * semantics emit e.g. `COUNT = 0` — those fires re-run through the
    * single-fire path, whose empty-snapshot evaluation preserves the
    * implicit-single-group shape and costs almost nothing (every scan
    * prunes to zero files). */
  private def fireBatch(due: Seq[(WindowDefinition, Long)]): Unit = {
    val fireCol = "__fire_id"
    val closes = due.map(_._2).distinct.sorted
    val minFrom = closes.min - maxRange
    val maxTo = closes.max - 1
    // every row paired with every close, as a generator over the
    // close list held in the plan: the same pairs a nested-loop join
    // against a broadcast close table gives, without the job that
    // broadcast costs
    val everyClose = explode(typedLit(closes))
    val windowParts = parsed.liveWindows.map { lw =>
      log.query(minFrom, maxTo)
        .where(col("graph") === lw.streamName &&
          col("subject") =!= SentinelSubject)
        .withColumn(fireCol, everyClose)
        .where(col("timestamp") >= col(fireCol) - lw.width &&
          col("timestamp") < col(fireCol))
        .withColumn("graph", lit(lw.windowName))
    }
    val staticPart = staticDF.map(_.withColumn("graph", lit(DefaultGraph))
      .withColumn(fireCol, everyClose))
    val snapshot = (windowParts ++ staticPart).reduce(_ unionByName _)
    // which fires have ANY snapshot row: parity emits nothing at all
    // for an entirely empty snapshot (LiveStreamProcessing.fire's
    // windowQuads.isEmpty && staticQuads.isEmpty shortcut), so those
    // closes are skipped, not evaluated to an implicit-group row. The
    // probe is only paid when it can matter: a query that emits
    // nothing on empty input needs no rows-present/no-groups
    // distinction, and static rows make every close present. It rides
    // the snapshot scan the compiled plan performs anyway, as an
    // observed collect_set metric — no second scan, no distinct
    // shuffle, no extra job (collect_set dedups, so a query whose BGP
    // scans the snapshot several times still reports each fire once)
    val needProbe = emitsOnEmptyGroup && !staticHasRows
    val probeObs = new org.apache.spark.sql.Observation()
    val probed =
      if (needProbe) snapshot.observe(probeObs, collect_set(col(fireCol)))
      else snapshot
    val resultPart = SparqlCompiler
      .compile(probed, compiledQuery, Seq(fireCol))
    val fireIdx = resultPart.schema.fieldIndex(fireCol)
    def snapPresent: Set[Long] =
      if (!emitsOnEmptyGroup) Set.empty[Long]
      else if (staticHasRows) closes.toSet
      else observedFires(probeObs)
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
      val snapHas = snapPresent
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
            fire(w, c, knownNonEmpty = true)
          case None => () // empty snapshot — parity emits nothing
        }
      }
      return
    }
    // which fires have solutions rides the checkpoint job the same
    // way, as an observed collect_set — no distinct, no extra job
    val resultObs = new org.apache.spark.sql.Observation()
    val combined = resultPart
      .observe(resultObs, collect_set(col(fireCol)))
      .localCheckpoint(eager = true)
    firePins += combined
    val present = observedFires(resultObs)
    due.foreach { case (w, c) =>
      if (present.contains(c))
        resultSink(combined.where(col(fireCol) === c).drop(fireCol),
          c - w.width, c)
      // else: no solutions for this fire — a non-aggregate (or
      // grouped) query emits nothing on an empty solution sequence,
      // whether the snapshot had rows or not
    }
  }

  /** The fire ids an observed `collect_set(__fire_id)` reported. */
  private def observedFires(obs: org.apache.spark.sql.Observation)
      : Set[Long] =
    obs.get.values.headOption match {
      case Some(s: scala.collection.Seq[_]) =>
        s.iterator.map(_.asInstanceOf[Long]).toSet
      case _ => Set.empty[Long]
    }

  /** One distributed evaluation at close `c` — the [[fireBatch]]
    * fallback for a fire whose snapshot has rows but whose keyed
    * aggregation produced no group (the implicit single group must
    * emit e.g. `COUNT = 0`): window graphs from the log (time-pruned
    * scans), static data in the default graph, the full compiled plan.
    * An entirely empty snapshot emits NOTHING — the parity path's
    * shortcut — rather than an implicit-group aggregate row; the probe
    * is a limit-1 job over bucket-pruned scans, skipped when static
    * data guarantees the snapshot is non-empty (or the caller already
    * knows it is). The result is pinned eagerly before the sink sees
    * it — the file-independence guarantee of [[advance]] holds on
    * every sink handoff, this path included. */
  private def fire(w: WindowDefinition, c: Long,
      knownNonEmpty: Boolean = false): Unit = {
    val windowParts = parsed.liveWindows.map { lw =>
      log.query(c - lw.width, c - 1) // inclusive [from, c-1] = [from, c)
        .where(col("graph") === lw.streamName &&
          col("subject") =!= SentinelSubject)
        .withColumn("graph", lit(lw.windowName))
    }
    val staticPart = staticDF.map(
      _.withColumn("graph", lit(DefaultGraph)))
    val snapshot = (windowParts ++ staticPart).reduce(_ unionByName _)
    // staticHasRows (row-level, probed at registration) — an empty
    // static frame must NOT defeat the parity shortcut
    if (!knownNonEmpty && !staticHasRows && snapshot.isEmpty) return
    val out = SparqlCompiler.compile(snapshot, compiledQuery)
      .localCheckpoint(eager = true)
    firePins += out
    resultSink(out, c - w.width, c)
  }
}
