package graft.streaming

import graft.core.RdfEvent
import graft.janusql._
import graft.sparql.{Query, SparqlCompiler}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** A driver-buffered port of the reference's live RSP path
  * (`src/stream/live_stream_processing.rs` in the reference), kept as
  * the parity reference that [[CompiledLiveStreamSpec]] compares the
  * live engine against. It holds every event in driver memory and
  * evaluates each fire from scratch:
  *
  *   - S2R sliding windows `[RANGE r STEP s]`: a close fires at every
  *     step boundary `c = k*s` once ITS stream's event time reaches `c`
  *     (another stream's progress must not fire it), in close-time
  *     order; the fired window covers `[c - r, c)`;
  *   - sentinel events advance stream time and never reach results;
  *   - W2 cross-window merge: at fire time every window's content at
  *     that timestamp joins the evaluation, each under its own window
  *     graph (`live_stream_processing.rs:469-482`);
  *   - static quads live in the default graph; an entirely empty
  *     snapshot emits nothing;
  *   - W5 RStream: the full answer set of each fired window is emitted.
  */
final class LiveStreamProcessing(spark: SparkSession, queryText: String) {

  import CompiledLiveStream.{DefaultGraph, SentinelSubject}

  val parsed: ParsedJanusQuery = JanusQLParser.parse(queryText)

  private val compiledQuery: Query =
    CompiledLiveStream.buildCombinedQuery(parsed)

  private val buffers =
    mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[RdfEvent]]
  private val staticData = mutable.ArrayBuffer.empty[RdfEvent]
  /** (bindings, window start, close): bindings = variable → plain
    * lexical value. */
  private val results =
    mutable.ArrayBuffer.empty[(Map[String, String], Long, Long)]
  /** next close boundary per window (event-time, multiples of slide) */
  private val nextClose = mutable.LinkedHashMap.empty[String, Long]
  /** per-stream event-time high watermark */
  private val streamMaxTs = mutable.LinkedHashMap.empty[String, Long]

  parsed.liveWindows.foreach(w => nextClose(w.windowName) = w.slide)

  def addStaticData(events: Seq[RdfEvent]): Unit = staticData ++= events

  def addEvent(uri: String, event: RdfEvent): Unit = {
    buffers.getOrElseUpdate(uri, mutable.ArrayBuffer.empty) += event
    streamMaxTs(uri) = math.max(streamMaxTs.getOrElse(uri, Long.MinValue),
      event.timestamp)
    advance()
  }

  /** Every result emitted so far, in emission order. */
  def collectResults(): Seq[(Map[String, String], Long, Long)] = results.toSeq

  /** Fire every window whose next close boundary has been reached by
    * ITS OWN stream's event time, one at a time in close-time order. */
  private def advance(): Unit = {
    var fired = true
    while (fired) {
      fired = false
      val due = parsed.liveWindows
        .map(w => (w, nextClose(w.windowName)))
        .filter { case (w, c) =>
          streamMaxTs.get(w.streamName).exists(c <= _) }
        .sortBy(_._2)
      due.headOption.foreach { case (w, c) =>
        fire(w, c)
        nextClose(w.windowName) = c + w.slide
        fired = true
      }
    }
  }

  /** Evaluate the combined query at close `c` of window `w` over every
    * window's content at `c` plus the static data. */
  private def fire(w: WindowDefinition, c: Long): Unit = {
    val windowQuads: Seq[RdfEvent] = parsed.liveWindows.flatMap { lw =>
      val from = c - lw.width
      buffers.getOrElse(lw.streamName, mutable.ArrayBuffer.empty)
        .filter(e => e.timestamp >= from && e.timestamp < c &&
          e.subject != SentinelSubject)
        .map(e => e.copy(graph = lw.windowName))
    }
    val staticQuads = staticData.map(_.copy(graph = DefaultGraph)).toSeq
    if (windowQuads.nonEmpty || staticQuads.nonEmpty) {
      val out = SparqlCompiler.compile(
        RdfEvent.toDF(spark, windowQuads ++ staticQuads), compiledQuery)
      val cols = out.columns
      out.collect().foreach { row =>
        val b = cols.zipWithIndex.collect {
          case (name, i) if !row.isNullAt(i) =>
            name -> String.valueOf(row.get(i))
        }.toMap
        results += ((b, c - w.width, c))
      }
    }
  }
}
