package graft.streaming

import graft.TestSpark
import graft.pipeline.Sampling

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Standing DSIR bucket-model maintenance over a document stream: the
  * foreachBatch-folded model must score documents BIT-IDENTICALLY to a
  * one-shot model built over the concatenated stream — bucket counts
  * are exact integers, so the fold law is exact. */
class StreamingDsirSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("foreachBatch-folded DSIR model scores one-shot-identically") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val batches = Seq(
      Seq((0L, "aaa aaa bbb", true), (1L, "bbb ccc", false)),
      Seq((2L, "aaa ccc ccc", true), (3L, "bbb bbb", false)),
      Seq((4L, "ddd aaa", false), (5L, "ccc ddd ddd", true)))

    val input = MemoryStream[(Long, String, Boolean)]
    val dir = Files.createTempDirectory("dsir-stream")
    val model = new StructuredStreams.StreamingDsir(
      "id", "text", "tgt", buckets = 64)
    val q = StructuredStreams.maintain(
      input.toDS().toDF("id", "text", "tgt"), model,
      dir.resolve("ckpt").toString)
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val folded = model.current.getOrElse(
      fail("no standing model after three batches"))
    val all = batches.flatten.toDF("id", "text", "tgt")
    val oneShot = Sampling.buildDsirModel(all, col("id"), col("text"),
      col("tgt"), buckets = 64)

    val wF = Sampling.dsirWeightsWithModel(all, col("id"), col("text"),
      folded)
    val wO = Sampling.dsirWeightsWithModel(all, col("id"), col("text"),
      oneShot)
    assert(TestSpark.rows(wF) === TestSpark.rows(wO))
    // and ≡ the convenience one-shot entry point
    val wDirect = Sampling.dsirWeights(all, col("id"), col("text"),
      col("tgt"), buckets = 64)
    assert(TestSpark.rows(wF) === TestSpark.rows(wDirect))

    model.unpersist()
  }

  test("scoring docs with buckets the model never saw uses the " +
      "smoothed floor, never drops tokens") {
    import spark.implicits._
    val train = Seq((0L, "aaa bbb", true)).toDF("id", "text", "tgt")
    val m = Sampling.buildDsirModel(train, col("id"), col("text"),
      col("tgt"), buckets = 64)
    val novel = Seq((9L, "zzz qqq xxx")).toDF("id", "text")
    val w = Sampling.dsirWeightsWithModel(novel, col("id"), col("text"), m)
      .collect()
    assert(w.length === 1)
    assert(w.head.getAs[Long]("n_toks") === 3L)
  }
}
