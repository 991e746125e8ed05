package graft.streaming

import graft.TestSpark
import graft.pipeline.TextAnalysis

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Streaming CDC chunk-level dedup: per-micro-batch rebuilds against
  * the folded first-occurrence index must accumulate to the one-shot
  * `cdcDeduplicate` over the concatenated stream. */
class StreamingChunkDedupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("streamed chunk dedup accumulates to the one-shot rebuild; a " +
      "later batch's duplicate of an earlier document empties") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val t = "the quick brown fox jumps over the lazy dog while the " +
      "cat sleeps in the warm afternoon sun near the old wooden fence"
    val u = "completely different content about distributed query " +
      "engines and columnar storage formats for analytics"
    val batches = Seq(
      Seq((0L, t), (1L, u)),
      Seq((2L, t), (3L, "fresh unseen text with its own words")),
      Seq((4L, u + " plus a novel tail of extra words here")))

    val input = MemoryStream[(Long, String)]
    val dir = Files.createTempDirectory("cdc-stream")
    val dedup = new StructuredStreams.StreamingChunkDedup("doc_id", "text")
    val q = StructuredStreams.maintain(
      input.toDS().toDF("doc_id", "text"), dedup,
      dir.resolve("ckpt").toString)
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val streamed = dedup.current.getOrElse(fail("no accumulated output"))
    val all = batches.flatten.toDF("doc_id", "text")
    val oneShot = TextAnalysis.cdcDeduplicate(all, col("doc_id"),
      col("text"))
    assert(streamed.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(streamed).isEmpty,
      "streamed accumulation diverges from one-shot")
    val byId = streamed.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[String]("clean_text")).toMap
    assert(byId(2L) === "", "cross-batch duplicate must fully dedup")
    assert(byId(4L).nonEmpty && byId(4L).length < byId(1L).length + 60,
      "overlapping doc keeps only its novel tail region")

    // unpersist must release BOTH checkpointed frames — the index and
    // the accumulated outputs (a standing session would otherwise leak
    // the outputs' localCheckpoint blocks on every session teardown)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    dedup.unpersist()
    assert(dedup.current.isEmpty, "outputs cleared")
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(persistedAfter <= persistedBefore - 2,
      s"expected the index AND outputs checkpoint RDDs released " +
        s"(before=$persistedBefore after=$persistedAfter)")
  }
}
