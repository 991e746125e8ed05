package graft.streaming

import graft.TestSpark
import graft.pipeline.Sketches

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Streaming sketch maintenance (VERDICT r10 §5): a foreachBatch fold
  * of per-micro-batch sketch tables into a standing one must equal a
  * one-shot batch build over the concatenated stream — exactly for the
  * CMS counters (addition is associative and exact), within the
  * documented bounds for HLL (±5 % at lgK=12; estimates are
  * mode-dependent past exact mode) and KLL (ε-rank). */
class StreamingSketchSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("foreachBatch-folded sketches equal one-shot batch sketches " +
      "over the same data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    // three "days" of (group, value) traffic, deliberately overlapping
    // values across batches so the fold has real merging to do
    val batches = Seq(
      (0L until 2000L).map(i => (s"g${i % 3}", i % 700)),
      (0L until 1500L).map(i => (s"g${i % 3}", (i * 7) % 900)),
      (0L until 2500L).map(i => (s"g${i % 3}", (i * 13) % 1100)))

    val input = MemoryStream[(String, Long)]
    val dir = Files.createTempDirectory("sketch-stream")
    val sketches = new StructuredStreams.StreamingSketches(
      Seq("g"), "v")
    val q = StructuredStreams.maintain(
      input.toDS().toDF("g", "v"), sketches,
      dir.resolve("ckpt").toString)
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val folded = sketches.current.getOrElse(
      fail("no standing sketch table after three batches"))
    val all = batches.flatten.toDF("g", "v")
    val oneShot = Sketches.sketchTable(all, Seq(col("g")), col("v"))

    val exactDistinct = all.groupBy("g")
      .agg(countDistinct("v").as("nd"))

    // HLL: folded estimate within ±5 % of the true distinct count
    val hll = Sketches.distinctEstimate(folded, Seq(col("g")))
      .join(exactDistinct, "g").collect()
    assert(hll.length === 3)
    hll.foreach { r =>
      val (est, nd) = (r.getAs[Long]("distinct_est").toDouble,
        r.getAs[Long]("nd").toDouble)
      assert(math.abs(est - nd) / nd <= 0.05, s"HLL off: $r")
    }

    // KLL: folded median within the ε-rank bound of the exact one
    // (ε ≈ 1.7 % at k=200 — allow rank slack of 5 % of n to be safe)
    val med = Sketches.quantileEstimate(folded, Seq(col("g")),
      Seq(0.5)).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    batches.flatten.groupBy(_._1).foreach { case (g, rows) =>
      val sorted = rows.map(_._2.toDouble).sorted
      val rank = sorted.count(_ <= med(g)).toDouble / sorted.length
      assert(math.abs(rank - 0.5) <= 0.05,
        s"KLL median rank drifted for $g: $rank")
    }

    // CMS: folded counters are BIT-IDENTICAL to the one-shot sketch
    // (counter addition is exact; depth/width/seed are fixed)
    val cmsPairs = folded.select(col("g"), col("cms").as("mc"))
      .join(oneShot.select(col("g"), col("cms").as("oc")), "g")
      .collect()
    assert(cmsPairs.length === 3)
    cmsPairs.foreach { r =>
      assert(java.util.Arrays.equals(
        r.getAs[Array[Byte]]("mc"), r.getAs[Array[Byte]]("oc")),
        s"CMS counters diverged for ${r.getString(0)}")
    }

    sketches.unpersist()
  }

  test("fold is incremental: a second fold of the same table changes " +
      "counters, not schema (and empty state folds cleanly)") {
    import spark.implicits._
    val sketches = new StructuredStreams.StreamingSketches(Seq("g"), "v")
    val df = Seq(("a", 1L), ("a", 2L), ("b", 1L)).toDF("g", "v")
    sketches.fold(df)
    sketches.fold(df) // same multiset again → CMS counts double
    val st = sketches.current.get
    val est = st.select(col("g"),
      Sketches.freqEstimate(col("cms"), lit(1L)).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("a") === 2L) // value 1 appeared once per fold in group a
    assert(est("b") === 2L)
    assert(st.columns.sorted.toSeq ===
      Seq("cms", "g", "hll_sketch", "kll_sketch"))
    sketches.unpersist()
  }
}
