package graft.streaming

import graft.TestSpark
import graft.pipeline.TextAnalysis

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Streaming n-gram novelty: min-folded first-owner index scored per
  * micro-batch must accumulate to the one-shot ngramNovelty over the
  * concatenated (ascending-id) stream. */
class StreamingNoveltySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("streamed novelty accumulates to the one-shot result; a later " +
      "batch's verbatim copy scores zero novel") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq((0L, "a b c d e"), (1L, "f g h i")),
      Seq((2L, "a b c d e"), (3L, "x y z w")),
      Seq((4L, "c d e f g")))

    val input = MemoryStream[(Long, String)]
    val dir = Files.createTempDirectory("novelty-stream")
    val nov = new StructuredStreams.StreamingNovelty("doc_id", "text")
    val q = StructuredStreams.maintain(
      input.toDS().toDF("doc_id", "text"), nov,
      dir.resolve("ckpt").toString)
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel")))).toMap
    val streamed = toMap(
      nov.current.getOrElse(fail("no output")).collect())
    val oneShot = toMap(TextAnalysis.ngramNovelty(
      batches.flatten.toDF("doc_id", "text"), col("doc_id"),
      col("text")).collect())
    assert(streamed === oneShot, "streamed accumulation diverges")
    assert(streamed(2L)._2 === 0L, "verbatim copy must score 0 novel")
    assert(streamed(3L)._2 === streamed(3L)._1, "fresh doc fully novel")

    // log-structured state: three folds leave three generations per
    // spool (well under the compaction threshold) and NO standing
    // checkpoint pins — the per-fold cost is the batch write, not a
    // full-corpus re-pin
    assert(nov.generationCounts === Seq(3, 3),
      "expected one delta generation per fold in index and outputs")
    nov.unpersist()
    assert(nov.current.isEmpty)
  }
}
