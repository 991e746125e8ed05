package graft.streaming

import graft.TestSpark
import graft.pipeline.Dedup

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Streaming cross-document line dedup: the min-folded first-occurrence
  * index rewrites each micro-batch; accumulated rewrites must equal the
  * one-shot dedupLines over the concatenated (ascending-id) stream. */
class StreamingLineDedupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("streamed line dedup accumulates to the one-shot rewrite; a " +
      "later batch's duplicated line vanishes, its fresh lines keep") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq((0L, "banner line\nalpha one"), (1L, "banner line\nbeta two")),
      Seq((2L, "banner line\ngamma three\nalpha one")),
      Seq((3L, "gamma three\ndelta four")))

    val input = MemoryStream[(Long, String)]
    val dir = Files.createTempDirectory("linededup-stream")
    val sld = new StructuredStreams.StreamingLineDedup("doc_id", "text")
    val q = StructuredStreams.maintain(
      input.toDS().toDF("doc_id", "text"), sld,
      dir.resolve("ckpt").toString)
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"),
          r.getAs[String]("clean_text")))).toMap
    val streamed = toMap(
      sld.current.getOrElse(fail("no output")).collect())
    val oneShot = toMap(Dedup.dedupLines(
      batches.flatten.toDF("doc_id", "text"), col("doc_id"),
      col("text")).collect())
    assert(streamed === oneShot, "streamed accumulation diverges")
    // doc 2 loses "banner line" (doc 0) and "alpha one" (doc 0),
    // keeps only its fresh line
    assert(streamed(2L) === ((3L, 1L, "gamma three")))
    assert(streamed(3L) === ((2L, 1L, "delta four")))

    // log-structured state: three folds leave three generations per
    // spool (well under the compaction threshold) and NO standing
    // checkpoint pins — the per-fold cost is the batch write, not a
    // full-corpus re-pin
    assert(sld.generationCounts === Seq(3, 3),
      "expected one delta generation per fold in index and outputs")
    sld.unpersist()
    assert(sld.current.isEmpty)
  }
}
