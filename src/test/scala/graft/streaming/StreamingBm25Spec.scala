package graft.streaming

import graft.TestSpark
import graft.pipeline.Retrieval

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Standing BM25 index maintenance over a document stream: the
  * foreachBatch-folded accumulator must serve scores BIT-IDENTICAL to
  * a one-shot index built over the concatenated stream — postings from
  * disjoint doc batches union associatively and the (n_docs, sum_dl)
  * counts are exact integer adds, so the fold law is exact, not
  * approximate. */
class StreamingBm25Spec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("foreachBatch-folded BM25 index serves one-shot-identical scores") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val batches = Seq(
      Seq((0L, "spark window hash join"), (1L, "vector hash spark")),
      Seq((2L, "window window sort merge"), (3L, "filter scan table")),
      Seq((4L, "spark vector window hash agg"), (5L, "merge agg sort")))

    val input = MemoryStream[(Long, String)]
    val dir = Files.createTempDirectory("bm25-stream")
    val index = new StructuredStreams.StreamingBm25("id", "text")
    val q = StructuredStreams.maintain(
      input.toDS().toDF("id", "text"), index,
      dir.resolve("ckpt").toString)
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val acc = index.current.getOrElse(
      fail("no standing index after three batches"))
    val all = batches.flatten.toDF("id", "text")
    val oneShot = Retrieval.buildBm25Acc(all, col("id"), col("text"))

    val terms = Seq("spark", "window", "hash", "sort")
    val served = Retrieval.bm25ScoresIndexed(acc.index, terms)
    val expect = Retrieval.bm25ScoresIndexed(oneShot.index, terms)
    assert(TestSpark.rows(served) === TestSpark.rows(expect))

    // counts folded exactly
    val c = acc.counts.collect().head
    assert(c.getAs[Long]("n_docs") === 6L)
    assert(c.getAs[Long]("sum_dl") ===
      all.select(sum(size(split(lower(trim(col("text"))), "\\s+"))))
        .collect().head.getLong(0))

    index.unpersist()
  }
}
