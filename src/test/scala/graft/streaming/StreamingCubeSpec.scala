package graft.streaming

import graft.TestSpark
import graft.pipeline.Reports

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Streaming CUBE maintenance: the foreachBatch-folded standing cube
  * must be BIT-IDENTICAL to the one-shot CUBE over the concatenated
  * stream (integer partials, associative adds), and the fold must
  * release superseded checkpoint generations. */
class StreamingCubeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("foreachBatch-folded cube equals the one-shot CUBE bit-for-bit; " +
      "superseded state is released") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val batches = Seq(
      (0L until 900L).map(i => (s"s${i % 3}", s"l${i % 2}", i % 50)),
      (0L until 700L).map(i => (s"s${i % 4}", s"l${i % 2}", (i * 3) % 70)),
      (0L until 500L).map(i => (s"s${i % 2}", s"l${i % 3}", (i * 7) % 90)))

    val input = MemoryStream[(String, String, Long)]
    val dir = Files.createTempDirectory("cube-stream")
    val cube = new StructuredStreams.StreamingCube(
      Seq("src", "lang"), "chars")
    val q = StructuredStreams.maintain(
      input.toDS().toDF("src", "lang", "chars"), cube,
      dir.resolve("ckpt").toString)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val folded = cube.current.getOrElse(fail("no standing cube"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (String.valueOf(r.get(0)), String.valueOf(r.get(1))) ->
          (r.getAs[Long]("n"), r.getAs[Long]("sum_m"))
      }.toMap
    val oneShot = asMap(Reports.cubePartial(
      batches.flatten.toDF("src", "lang", "chars"),
      Seq(col("src"), col("lang")), col("chars")))
    assert(asMap(folded) === oneShot)
    // exactly ONE standing generation survives the three folds
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(persistedAfter <= persistedBefore + 1,
      s"leaked checkpoint generations: $persistedBefore -> $persistedAfter")
    cube.unpersist()
    assert(spark.sparkContext.getPersistentRDDs.size <= persistedBefore)
  }
}
