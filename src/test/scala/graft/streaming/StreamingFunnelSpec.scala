package graft.streaming

import graft.TestSpark
import graft.pipeline.Temporal

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Streaming funnel fold law: per-key step times folded over
  * event-time-ascending micro-batches must equal the one-shot
  * [[Temporal.funnel]] over everything ingested — each t_i is
  * write-once under ascending event time, so the fold is a coalesce of
  * per-batch conditional step minima. */
class StreamingFunnelSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val steps = Seq(col("kind") === "view",
    col("kind") === "click", col("kind") === "purchase")

  // (eid, user, ms, kind) — covers: full funnel split ACROSS batches
  // (user 1), several steps completed inside ONE batch (user 2),
  // out-of-order step ignored (user 3's early click), deadline miss
  // (user 4), never-started (user 5), same-ms steps (user 6)
  private val events = Seq(
    (1L, 1L, 1_000L, "view"), (2L, 1L, 60_000L, "click"),
    (3L, 1L, 120_000L, "purchase"),
    (4L, 2L, 110_000L, "view"), (5L, 2L, 111_000L, "click"),
    (6L, 2L, 112_000L, "purchase"),
    (7L, 3L, 500L, "click"), (8L, 3L, 61_000L, "view"),
    (9L, 3L, 62_000L, "click"),
    (10L, 4L, 0L, "view"), (11L, 4L, 100L, "click"),
    (12L, 4L, 9_000_000L, "purchase"),
    (13L, 5L, 1_500L, "purchase"),
    (14L, 6L, 113_000L, "view"), (15L, 6L, 113_000L, "click"),
    (16L, 6L, 113_000L, "purchase"))

  private def df(rows: Seq[(Long, Long, Long, String)]) = {
    import spark.implicits._
    rows.toDF("eid", "user", "ms", "kind")
      .select(col("eid"), col("user"),
        timestamp_millis(col("ms")).as("ts"), col("kind"))
  }

  private def toMap(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => r.getAs[Long]("user") -> ((
      r.getAs[Long]("steps_completed"),
      Seq("t_1", "t_2", "t_3").map(c =>
        Option(r.get(r.fieldIndex(c))).map(_.asInstanceOf[Long])),
      r.getAs[Long]("elapsed_ms")))).toMap

  test("folded batches equal the one-shot funnel (with deadline); " +
      "state checkpoints release") {
    val f = new StructuredStreams.StreamingFunnel("user", "ts", steps,
      windowMs = Some(600_000L))
    // three event-time-ascending batches: [0, 60s), [60s, 112s), rest
    val cuts = Seq(0L -> 60_000L, 60_000L -> 112_000L,
      112_000L -> Long.MaxValue)
    cuts.foreach { case (lo, hi) =>
      f.fold(df(events.filter(e => e._3 >= lo && e._3 < hi)))
    }
    val streamed = toMap(f.current.getOrElse(fail("no state")).collect())
    val oneShot = toMap(Temporal.funnel(df(events), key = "user",
      ts = "ts", steps = steps, windowMs = Some(600_000L)).collect())
    assert(streamed === oneShot, "fold diverges from one-shot")
    // spot checks: cross-batch completion, single-batch completion,
    // the pre-view click never matches, deadline miss, same-ms chain
    assert(streamed(1L)._1 === 3L)
    assert(streamed(2L) === ((3L, Seq(Some(110_000L), Some(111_000L),
      Some(112_000L)), 2_000L)))
    assert(streamed(3L) === ((2L, Seq(Some(61_000L), Some(62_000L),
      None), 1_000L)))
    assert(streamed(4L)._1 === 2L)
    assert(streamed(6L) === ((3L, Seq(Some(113_000L), Some(113_000L),
      Some(113_000L)), 0L)))
    assert(!streamed.contains(5L))

    val before = spark.sparkContext.getPersistentRDDs.size
    f.unpersist()
    assert(f.current.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.size <= before - 1,
      "standing state checkpoint must release")
  }

  test("every batch split point yields the same state as one batch " +
      "(no deadline)") {
    val all = df(events)
    val oneShot = toMap(Temporal.funnel(all, key = "user", ts = "ts",
      steps = steps, windowMs = None).collect())
    Seq(1_000L, 61_000L, 112_999L).foreach { cut =>
      val f = new StructuredStreams.StreamingFunnel("user", "ts", steps)
      f.fold(df(events.filter(_._3 <= cut)))
      f.fold(df(events.filter(_._3 > cut)))
      val folded = toMap(f.current.get.collect())
      assert(folded === oneShot, s"split at $cut diverges")
      f.unpersist()
    }
  }

  test("fold-boundary violation fails loudly: a SAME-KEY equal " +
      "timestamp straddling batches would diverge from the one-shot") {
    // one-shot over BOTH events sets t_2 = 5s (click@5s then view@5s
    // is fine — equal ts chains match); the fold can never recover the
    // batch-1 click once batch 2 establishes t_1 = 5s, so the class
    // must reject the straddle instead of silently under-counting
    val f = new StructuredStreams.StreamingFunnel("user", "ts", steps)
    f.fold(df(Seq((1L, 9L, 5_000L, "click"))))
    val e = intercept[IllegalArgumentException] {
      f.fold(df(Seq((2L, 9L, 5_000L, "view"))))
    }
    assert(e.getMessage.contains("fold-boundary"))
    f.unpersist()
    // strictly ascending batches still fold fine after the reset
    val g = new StructuredStreams.StreamingFunnel("user", "ts", steps)
    g.fold(df(Seq((1L, 9L, 5_000L, "view"))))
    g.fold(df(Seq((2L, 9L, 6_000L, "click"))))
    assert(g.current.get.where(col("steps_completed") === 2L).count() === 1L)
    g.unpersist()
  }

  test("equal timestamps straddling batches in DIFFERENT keys fold " +
      "exactly (the boundary is per key, not global)") {
    // a real foreachBatch source splits same-ms events across batches
    // routinely; funnels never read across keys, so this must fold —
    // user 7 ends at 5s in batch 1, user 8 STARTS at 5s in batch 2,
    // and user 7 continues later (exercising its standing watermark)
    val rows = Seq(
      (1L, 7L, 4_000L, "view"), (2L, 7L, 5_000L, "click"),
      (3L, 8L, 5_000L, "view"), (4L, 8L, 6_000L, "click"),
      (5L, 7L, 7_000L, "purchase"), (6L, 8L, 7_000L, "purchase"))
    val f = new StructuredStreams.StreamingFunnel("user", "ts", steps)
    f.fold(df(rows.take(2)))
    f.fold(df(rows.slice(2, 4))) // batch min 5s == prior global max 5s
    f.fold(df(rows.drop(4)))     // both purchases share 7s — same batch
    val folded = toMap(f.current.get.collect())
    val oneShot = toMap(Temporal.funnel(df(rows), key = "user",
      ts = "ts", steps = steps, windowMs = None).collect())
    assert(folded === oneShot)
    assert(folded(7L)._1 === 3L && folded(8L)._1 === 3L)
    f.unpersist()
    // but the same shape WITH a shared key still rejects: user 7's
    // 5s click in batch 2 after its 5s view folded in batch 1
    val h = new StructuredStreams.StreamingFunnel("user", "ts", steps)
    h.fold(df(Seq((1L, 7L, 5_000L, "view"), (2L, 8L, 4_000L, "view"))))
    val e = intercept[IllegalArgumentException] {
      h.fold(df(Seq((3L, 7L, 5_000L, "click"), (4L, 8L, 6_000L, "click"))))
    }
    assert(e.getMessage.contains("key") &&
      e.getMessage.contains("fold-boundary"))
    h.unpersist()
  }

  test("maintainFunnel folds a real MemoryStream through foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Long, Long, String)]
    val dir = Files.createTempDirectory("funnel-stream")
    val f = new StructuredStreams.StreamingFunnel("user", "ts", steps,
      windowMs = Some(600_000L))
    val q = StructuredStreams.maintain(
      input.toDS().toDF("eid", "user", "ms", "kind")
        .select(col("eid"), col("user"),
          timestamp_millis(col("ms")).as("ts"), col("kind")),
      f, dir.resolve("ckpt").toString)
    try {
      Seq(events.filter(_._3 < 100_000L), events.filter(_._3 >= 100_000L))
        .foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = toMap(f.current.getOrElse(fail("no state")).collect())
    val oneShot = toMap(Temporal.funnel(df(events), key = "user",
      ts = "ts", steps = steps, windowMs = Some(600_000L)).collect())
    assert(streamed === oneShot)
    f.unpersist()
  }
}
