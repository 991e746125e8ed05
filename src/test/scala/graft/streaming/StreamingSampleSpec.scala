package graft.streaming

import graft.TestSpark
import graft.pipeline.Sampling

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Standing streaming quota sample: per-stratum top-n under a total
  * hash order obeys the exact merge law, so the folded state must
  * equal the one-shot quotaSample over the concatenated stream for
  * any batch split. */
class StreamingSampleSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("streamed quota sample == one-shot quotaSample over everything " +
      "seen; superseded checkpoints released") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val batches: Seq[Seq[(String, Long)]] = Seq(
      (0L until 40L).map(i => (s"s${i % 3}", i)),
      (40L until 90L).map(i => (s"s${i % 3}", i)),
      (90L until 100L).map(i => (s"s${i % 3}", i)))

    val input = MemoryStream[(String, Long)]
    val dir = Files.createTempDirectory("quota-stream")
    val sample = new StructuredStreams.StreamingQuotaSample(
      "stratum", "id", n = 5)
    val q = StructuredStreams.maintain(
      input.toDS().toDF("stratum", "id"), sample,
      dir.resolve("ckpt").toString)
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val streamed = sample.current.getOrElse(fail("no standing sample"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val oneShot = Sampling.quotaSample(
        batches.flatten.toDF("stratum", "id"),
        col("stratum"), col("id"), n = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed === oneShot, "merge law violated")
    assert(streamed.groupBy(_._1).forall(_._2.size == 5))

    val before = spark.sparkContext.getPersistentRDDs.size
    sample.unpersist()
    assert(sample.current.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.size < before,
      "standing checkpoint not released")
  }

  test("streamed temperature sample == one-shot for EVERY split point " +
      "(rates are non-increasing, so no arrival contract); alpha > 1 " +
      "rejected") {
    import spark.implicits._
    // skewed strata: 60/30/10 — alpha 0.5 boosts the rare stratum
    val rows = (0L until 100L).map(i =>
      (if (i < 60) "big" else if (i < 90) "mid" else "rare", i))
    val oneShot = Sampling.temperatureSample(
        rows.toDF("lang", "id"), col("lang"), col("id"),
        alpha = 0.5, targetN = 40L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(oneShot.nonEmpty)
    Seq(10, 50, 95).foreach { cut =>
      val st = new StructuredStreams.StreamingTemperatureSample(
        "lang", "id", alpha = 0.5, targetN = 40L)
      // deliberately NOT time- or id-ordered: interleave the halves
      st.fold(rows.filter(_._2 % 100 >= cut).toDF("lang", "id"))
      st.fold(rows.filter(_._2 % 100 < cut).toDF("lang", "id"))
      val streamed = st.current.get
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(streamed === oneShot, s"split at $cut diverges")
      st.unpersist()
    }
    intercept[IllegalArgumentException] {
      new StructuredStreams.StreamingTemperatureSample(
        "lang", "id", alpha = 1.5, targetN = 10L)
    }
  }

  test("streamed matched sample == one-shot capped matchedSample for " +
      "every split; pools stay within the fixed budget") {
    import spark.implicits._
    // bins with availability 50/30/20, weights 1:2:1, budget 24
    val rows = (0L until 100L).map(i =>
      (if (i < 50) "a" else if (i < 80) "b" else "c", i))
    val weights = Seq("a" -> 1L, "b" -> 2L, "c" -> 1L)
    val oneShot = Sampling.matchedSample(rows.toDF("bin", "id"),
        col("bin"), col("id"), weights, maxN = Some(24L))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // budget binds: 24 = min(feasible 80, 24); quotas 6/12/6
    assert(oneShot.groupBy(_._1).view.mapValues(_.size).toMap ===
      Map("a" -> 6, "b" -> 12, "c" -> 6))
    Seq(1, 33, 99).foreach { cut =>
      val sm = new StructuredStreams.StreamingMatchedSample(
        "bin", "id", weights, targetN = 24L)
      sm.fold(rows.filter(_._2 >= cut).toDF("bin", "id"))
      sm.fold(rows.filter(_._2 < cut).toDF("bin", "id"))
      val streamed = sm.current.get
        .select(col("bin"), col("id"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(streamed === oneShot, s"split at $cut diverges")
      sm.unpersist()
    }
    // quota-starved regime: a weighted bin with no rows yet → loudly
    // empty, exactly the one-shot contract
    val sm = new StructuredStreams.StreamingMatchedSample(
      "bin", "id", weights, targetN = 24L)
    sm.fold(rows.filter(_._1 == "a").toDF("bin", "id"))
    assert(sm.current.get.count() === 0L)
    // once the missing bins arrive the sample fills to the budget
    sm.fold(rows.filter(_._1 != "a").toDF("bin", "id"))
    assert(sm.current.get
      .select(col("bin"), col("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
      oneShot)
    sm.unpersist()
  }
}
