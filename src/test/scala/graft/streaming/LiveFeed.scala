package graft.streaming

import graft.TestSpark
import graft.core.RdfEvent
import graft.storage.EventLog

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import java.nio.file.Files
import scala.collection.mutable

/** Feeding the live engine in specs: events paired with their stream,
  * a sink that keeps each fire's rows, and a run of a whole feed. */
object LiveFeed {

  private def spark = TestSpark.spark

  val basicQuery: String =
    """PREFIX ex: <http://example.org/>
      |REGISTER RStream <output> AS
      |SELECT ?s ?p ?o
      |FROM NAMED WINDOW ex:w1 ON STREAM ex:stream1 [RANGE 1000 STEP 300]
      |WHERE {
      |    WINDOW ex:w1 { ?s ?p ?o }
      |}""".stripMargin

  val Stream1 = "http://example.org/stream1"
  val Stream2 = "http://example.org/stream2"

  /** Collected result rows as (bindings, from, to) — the same shape
    * the parity reference emits. */
  final class SinkBuffer {
    val rows = mutable.ArrayBuffer.empty[(Map[String, String], Long, Long)]
    def sink(fireRows: Seq[Row], schema: StructType, from: Long,
        to: Long): Unit = {
      val cols = schema.fieldNames
      fireRows.foreach { row =>
        val b = cols.zipWithIndex.collect {
          case (name, i) if !row.isNullAt(i) =>
            name -> String.valueOf(row.get(i))
        }.toMap
        rows += ((b, from, to))
      }
    }
  }

  def newLog(): EventLog = {
    val dir = Files.createTempDirectory("clslog")
    new EventLog(spark, dir.resolve("log").toString, bucketMs = 1000L)
  }

  def quadsDF(events: Seq[(String, RdfEvent)]): DataFrame =
    RdfEvent.toDF(spark,
      events.map { case (stream, e) => e.copy(graph = stream) })

  /** The engine's results for a feed, in emission order. `batches`
    * groups events into micro-batches. */
  def compiledOf(query: String,
      batches: Seq[Seq[(String, RdfEvent)]],
      static: Seq[RdfEvent] = Nil): Seq[(Map[String, String], Long, Long)] = {
    val buf = new SinkBuffer
    val c = new CompiledLiveStream(spark, query, newLog(), buf.sink)
    if (static.nonEmpty) c.setStaticData(RdfEvent.toDF(spark, static))
    batches.foreach(b => c.processBatch(quadsDF(b)))
    buf.rows.toSeq
  }

  /** A sentinel on `stream`: advances its event time to `ts`. */
  def sentinel(ts: Long, stream: String = Stream1): (String, RdfEvent) =
    stream -> CompiledLiveStream.sentinel(ts)

  /** An event on `stream` at `ts`: subject and predicate are local
    * names under `http://example.org/`, the object is as given. */
  def ev(ts: Long, subj: String, pred: String, obj: String,
      stream: String = Stream1): (String, RdfEvent) =
    stream -> RdfEvent(ts, s"http://example.org/$subj",
      s"http://example.org/$pred", obj, "")
}
