package graft.streaming

import graft.TestSpark
import graft.pipeline.TextAnalysis

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Streaming boilerplate-dictionary maintenance: the foreachBatch fold
  * of per-micro-batch (group, line, df) counts must equal a one-shot
  * batch build over the concatenated stream — exactly, because batches
  * carry disjoint documents and distinct-doc counts are then additive. */
class StreamingBoilerplateSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("foreachBatch-folded boilerplate counts equal one-shot batch " +
      "counts; thresholded removal matches one-shot removal") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    // three "crawl days", doc-disjoint; the banner line only crosses
    // the df >= 3 threshold once all three days have arrived
    val batches = Seq(
      Seq((0L, "a", "cookie banner alpha beta"),
        (1L, "a", "gamma delta epsilon zeta")),
      Seq((2L, "a", "cookie banner eta theta"),
        (3L, "b", "iota kappa lambda mu")),
      Seq((4L, "a", "nu xi cookie banner"),
        (5L, "a", "omicron pi rho sigma")))

    val input = MemoryStream[(Long, String, String)]
    val dir = Files.createTempDirectory("boiler-stream")
    val dict = new StructuredStreams.StreamingBoilerplate(
      "doc_id", "text", "source")
    val q = StructuredStreams.maintain(
      input.toDS().toDF("doc_id", "source", "text")
        .select(col("doc_id"), col("text"), col("source")),
      dict, dir.resolve("ckpt").toString)
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val folded = dict.current.getOrElse(fail("no standing dictionary"))
    val all = batches.flatten.toDF("doc_id", "source", "text")
    val oneShot = TextAnalysis.boilerplateCounts(all, col("doc_id"),
      col("text"), col("source"))
    assert(folded.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(folded).isEmpty,
      "folded counts diverge from one-shot")

    // the cross-batch banner is only visible to the FOLDED dictionary
    val inc = TextAnalysis.removeBoilerplateWithCounts(all, col("doc_id"),
      col("text"), col("source"), folded, lineTokens = 2, minDocFreq = 3L)
    val ref = TextAnalysis.removeBoilerplate(all, col("doc_id"),
      col("text"), col("source"), lineTokens = 2, minDocFreq = 3L)
    assert(inc.exceptAll(ref).isEmpty && ref.exceptAll(inc).isEmpty)
    val cleaned = inc.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text"))
      .toMap
    assert(cleaned(0L) === "alpha beta") // banner removed via the fold

    // log-structured state: three folds leave three generations in the
    // count spool (well under the compaction threshold) and NO standing
    // checkpoint pins — the per-fold cost is the batch partial's write,
    // not a full-dictionary re-aggregation
    assert(dict.generationCount === 3,
      "expected one delta generation per fold in the count spool")
    dict.unpersist()
    assert(dict.current.isEmpty)
  }
}
