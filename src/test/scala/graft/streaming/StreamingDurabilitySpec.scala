package graft.streaming

import graft.TestSpark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Restart durability of EVERY standing streaming fold: fold k batches
  * → save → NEW instance restores in (simulating a driver restart) →
  * fold the remaining batches → the standing state must equal the
  * uninterrupted fold over all batches, bit-for-bit. This is the
  * operational claim the standing indexes already carry
  * (IndexPersistenceSpec) made first-class on the fold classes
  * themselves — before save/restore existed, the round-13 folds'
  * driver-memory localCheckpoint pins silently lost the standing
  * sample/funnel on restart. Also pins the fail-loud contracts:
  * save with nothing folded, restore into a non-fresh instance, and
  * restore of a funnel whose saved step count mismatches. */
class StreamingDurabilitySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Order-free frame compare that survives binary sketch payloads. */
  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().toSet[org.apache.spark.sql.Row].map(_.toSeq.map {
      case a: Array[Byte] => a.toList
      case x => x
    })

  private def docs(lo: Long, hi: Long) = {
    import spark.implicits._
    (lo until hi).map(i => (i,
      s"alpha beta w$i x${i % 7} y${i % 5} shared line tail${i % 3}",
      if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr",
      i % 2 == 0))
      .toDF("doc_id", "text", "lang", "is_target")
  }

  test("StreamingQuotaSample / StreamingTemperatureSample / " +
      "StreamingMatchedSample: save → restore → fold rest ≡ " +
      "uninterrupted fold (state AND driver count metadata)") {
    val b1 = docs(0, 60); val b2 = docs(60, 120); val b3 = docs(120, 150)

    val q1 = new StructuredStreams.StreamingQuotaSample("lang", "doc_id", 7)
    q1.fold(b1); q1.fold(b2)
    val qDir = tmp("quota"); q1.save(qDir)
    val q2 = new StructuredStreams.StreamingQuotaSample("lang", "doc_id", 7)
    q2.restore(spark, qDir); q2.fold(b3)
    val qRef = new StructuredStreams.StreamingQuotaSample("lang", "doc_id", 7)
    qRef.fold(b1); qRef.fold(b2); qRef.fold(b3)
    assert(rows(q2.current.get) === rows(qRef.current.get))
    Seq(q1, q2, qRef).foreach(_.unpersist())

    val t1 = new StructuredStreams.StreamingTemperatureSample(
      "lang", "doc_id", 0.5, 40L)
    t1.fold(b1); t1.fold(b2)
    val tDir = tmp("temp"); t1.save(tDir)
    val t2 = new StructuredStreams.StreamingTemperatureSample(
      "lang", "doc_id", 0.5, 40L)
    t2.restore(spark, tDir); t2.fold(b3)
    val tRef = new StructuredStreams.StreamingTemperatureSample(
      "lang", "doc_id", 0.5, 40L)
    tRef.fold(b1); tRef.fold(b2); tRef.fold(b3)
    assert(rows(t2.current.get) === rows(tRef.current.get))
    // the restored COUNTS drove the final rates: equality implies the
    // metadata survived, but also check via one more fold of nothing
    Seq(t1, t2, tRef).foreach(_.unpersist())

    val weights = Seq("en" -> 2L, "de" -> 1L, "fr" -> 1L)
    val m1 = new StructuredStreams.StreamingMatchedSample(
      "lang", "doc_id", weights, 30L)
    m1.fold(b1); m1.fold(b2)
    val mDir = tmp("matched"); m1.save(mDir)
    val m2 = new StructuredStreams.StreamingMatchedSample(
      "lang", "doc_id", weights, 30L)
    m2.restore(spark, mDir); m2.fold(b3)
    val mRef = new StructuredStreams.StreamingMatchedSample(
      "lang", "doc_id", weights, 30L)
    mRef.fold(b1); mRef.fold(b2); mRef.fold(b3)
    assert(rows(m2.current.get) === rows(mRef.current.get))
    // and both still equal the one-shot capped matchedSample
    val oneShot = graft.pipeline.Sampling.matchedSample(
      docs(0, 150), col("lang"), col("doc_id"), weights, Some(30L))
    assert(rows(m2.current.get.select("doc_id", "lang")) ===
      rows(oneShot.select("doc_id", "lang")))
    Seq(m1, m2, mRef).foreach(_.unpersist())
  }

  test("StreamingFunnel: save → restore → fold rest ≡ uninterrupted, " +
      "and the fold-boundary watermark survives the roundtrip") {
    import spark.implicits._
    def ev(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, i % 7,
        timestamp_millis(lit(i * 1000L)), i % 3 match {
          case 0 => "view"; case 1 => "click"; case _ => "purchase"
        })).map { case (e, u, _, k) => (e, u, e * 1000L, k) }
        .toDF("eid", "user", "ms", "kind")
        .select(col("eid"), col("user"),
          timestamp_millis(col("ms")).as("ts"), col("kind"))
    val steps = Seq(col("kind") === "view", col("kind") === "click",
      col("kind") === "purchase")
    val f1 = new StructuredStreams.StreamingFunnel("user", "ts", steps,
      windowMs = Some(600_000L))
    f1.fold(ev(0, 40))
    val dir = tmp("funnel"); f1.save(dir)
    val f2 = new StructuredStreams.StreamingFunnel("user", "ts", steps,
      windowMs = Some(600_000L))
    f2.restore(spark, dir)
    // the restored watermark must still reject a straddling batch
    val boom = intercept[IllegalArgumentException] { f2.fold(ev(39, 41)) }
    assert(boom.getMessage.contains("fold-boundary"))
    f2.unpersist()
    val f3 = new StructuredStreams.StreamingFunnel("user", "ts", steps,
      windowMs = Some(600_000L))
    f3.restore(spark, dir); f3.fold(ev(40, 90))
    val ref = new StructuredStreams.StreamingFunnel("user", "ts", steps,
      windowMs = Some(600_000L))
    ref.fold(ev(0, 40)); ref.fold(ev(40, 90))
    assert(rows(f3.current.get) === rows(ref.current.get))
    // step-count mismatch fails loudly instead of mis-shaping state
    val wrong = new StructuredStreams.StreamingFunnel("user", "ts",
      steps.take(2), windowMs = Some(600_000L))
    val ex = intercept[IllegalArgumentException] { wrong.restore(spark, dir) }
    assert(ex.getMessage.contains("steps"))
    Seq(f1, f3, ref).foreach(_.unpersist())
  }

  test("index+output folds (LineDedup, ChunkDedup, Novelty) and " +
      "table folds (Dsir, Boilerplate, Cube, Sketches, Bm25): " +
      "save → restore → fold rest ≡ uninterrupted") {
    val b1 = docs(0, 50); val b2 = docs(50, 100)

    val l1 = new StructuredStreams.StreamingLineDedup("doc_id", "text", " ")
    l1.fold(b1)
    val lDir = tmp("ldedup"); l1.save(lDir)
    val l2 = new StructuredStreams.StreamingLineDedup("doc_id", "text", " ")
    l2.restore(spark, lDir); l2.fold(b2)
    val lRef = new StructuredStreams.StreamingLineDedup("doc_id", "text", " ")
    lRef.fold(b1); lRef.fold(b2)
    assert(rows(l2.current.get) === rows(lRef.current.get))
    Seq(l1, l2, lRef).foreach(_.unpersist())

    val c1 = new StructuredStreams.StreamingChunkDedup("doc_id", "text")
    c1.fold(b1)
    val cDir = tmp("cdedup"); c1.save(cDir)
    val c2 = new StructuredStreams.StreamingChunkDedup("doc_id", "text")
    c2.restore(spark, cDir); c2.fold(b2)
    val cRef = new StructuredStreams.StreamingChunkDedup("doc_id", "text")
    cRef.fold(b1); cRef.fold(b2)
    assert(rows(c2.current.get) === rows(cRef.current.get))
    Seq(c1, c2, cRef).foreach(_.unpersist())

    val n1 = new StructuredStreams.StreamingNovelty("doc_id", "text")
    n1.fold(b1)
    val nDir = tmp("novelty"); n1.save(nDir)
    val n2 = new StructuredStreams.StreamingNovelty("doc_id", "text")
    n2.restore(spark, nDir); n2.fold(b2)
    val nRef = new StructuredStreams.StreamingNovelty("doc_id", "text")
    nRef.fold(b1); nRef.fold(b2)
    assert(rows(n2.current.get) === rows(nRef.current.get))
    Seq(n1, n2, nRef).foreach(_.unpersist())

    val d1 = new StructuredStreams.StreamingDsir("doc_id", "text",
      "is_target", buckets = 64)
    d1.fold(b1)
    val dDir = tmp("dsir"); d1.save(dDir)
    val d2 = new StructuredStreams.StreamingDsir("doc_id", "text",
      "is_target", buckets = 64)
    d2.restore(spark, dDir); d2.fold(b2)
    val dRef = new StructuredStreams.StreamingDsir("doc_id", "text",
      "is_target", buckets = 64)
    dRef.fold(b1); dRef.fold(b2)
    assert(rows(d2.current.get.counts) === rows(dRef.current.get.counts))
    Seq(d1, d2, dRef).foreach(_.unpersist())

    val p1 = new StructuredStreams.StreamingBoilerplate("doc_id", "text",
      "lang")
    p1.fold(b1)
    val pDir = tmp("boiler"); p1.save(pDir)
    val p2 = new StructuredStreams.StreamingBoilerplate("doc_id", "text",
      "lang")
    p2.restore(spark, pDir); p2.fold(b2)
    val pRef = new StructuredStreams.StreamingBoilerplate("doc_id", "text",
      "lang")
    pRef.fold(b1); pRef.fold(b2)
    assert(rows(p2.current.get) === rows(pRef.current.get))
    Seq(p1, p2, pRef).foreach(_.unpersist())

    val u1 = new StructuredStreams.StreamingCube(Seq("lang"), "doc_id")
    u1.fold(b1)
    val uDir = tmp("cube"); u1.save(uDir)
    val u2 = new StructuredStreams.StreamingCube(Seq("lang"), "doc_id")
    u2.restore(spark, uDir); u2.fold(b2)
    val uRef = new StructuredStreams.StreamingCube(Seq("lang"), "doc_id")
    uRef.fold(b1); uRef.fold(b2)
    assert(rows(u2.current.get) === rows(uRef.current.get))
    Seq(u1, u2, uRef).foreach(_.unpersist())

    val s1 = new StructuredStreams.StreamingSketches(Seq("lang"), "doc_id")
    s1.fold(b1)
    val sDir = tmp("sketch"); s1.save(sDir)
    val s2 = new StructuredStreams.StreamingSketches(Seq("lang"), "doc_id")
    s2.restore(spark, sDir); s2.fold(b2)
    val sRef = new StructuredStreams.StreamingSketches(Seq("lang"), "doc_id")
    sRef.fold(b1); sRef.fold(b2)
    assert(rows(s2.current.get) === rows(sRef.current.get))
    Seq(s1, s2, sRef).foreach(_.unpersist())

    val r1 = new StructuredStreams.StreamingBm25("doc_id", "text")
    r1.fold(b1)
    val rDir = tmp("bm25"); r1.save(rDir)
    val r2 = new StructuredStreams.StreamingBm25("doc_id", "text")
    r2.restore(spark, rDir); r2.fold(b2)
    val rRef = new StructuredStreams.StreamingBm25("doc_id", "text")
    rRef.fold(b1); rRef.fold(b2)
    assert(rows(r2.current.get.postings) === rows(rRef.current.get.postings))
    assert(rows(r2.current.get.counts) === rows(rRef.current.get.counts))
    Seq(r1, r2, rRef).foreach(_.unpersist())
  }

  test("fail-loud contracts: save before any fold; restore into a " +
      "non-fresh instance") {
    import spark.implicits._
    val events = Seq((1L, 1L, "view"), (2L, 1L, "click"), (3L, 2L, "view"))
      .toDF("ms", "user", "kind")
      .select(col("user"), timestamp_millis(col("ms")).as("ts"), col("kind"))
    val S = StructuredStreams
    val d = docs(0, 10)
    // every standing fold: (name, fresh instance, a batch it folds)
    val folds: Seq[(String, () => StandingFold, DataFrame)] = Seq(
      ("Sketches", () => new S.StreamingSketches(Seq("lang"), "doc_id"), d),
      ("Bm25", () => new S.StreamingBm25("doc_id", "text"), d),
      ("Dsir", () => new S.StreamingDsir("doc_id", "text", "is_target",
        buckets = 64), d),
      ("Cube", () => new S.StreamingCube(Seq("lang"), "doc_id"), d),
      ("QuotaSample", () => new S.StreamingQuotaSample("lang", "doc_id", 5),
        d),
      ("TemperatureSample", () => new S.StreamingTemperatureSample(
        "lang", "doc_id", 0.5, 40L), d),
      ("MatchedSample", () => new S.StreamingMatchedSample("lang", "doc_id",
        Seq("en" -> 2L, "de" -> 1L, "fr" -> 1L), 30L), d),
      ("ContainmentDedup", () => new S.StreamingContainmentDedup("doc_id",
        "text", minPpm = 800000L), d),
      ("Novelty", () => new S.StreamingNovelty("doc_id", "text"), d),
      ("LineDedup", () => new S.StreamingLineDedup("doc_id", "text", " "), d),
      ("Funnel", () => new S.StreamingFunnel("user", "ts",
        Seq(col("kind") === "view", col("kind") === "click")), events),
      ("Boilerplate", () => new S.StreamingBoilerplate("doc_id", "text",
        "lang"), d),
      ("ChunkDedup", () => new S.StreamingChunkDedup("doc_id", "text"), d))
    assert(folds.size === 13)
    folds.foreach { case (name, fresh, batch) =>
      val e1 = intercept[IllegalStateException] { fresh().save(tmp("x")) }
      assert(e1.getMessage.contains("nothing to save"), name)

      val live = fresh()
      live.fold(batch)
      val dir = tmp(name); live.save(dir)
      val e2 = intercept[IllegalArgumentException] {
        live.restore(spark, dir)
      }
      assert(e2.getMessage.contains("fresh instance"), name)
      // unpersist releases every slot and leaves the instance fresh
      live.unpersist()
      live.restore(spark, dir)
      val again = tmp(name); live.save(again)
      live.unpersist()
    }
  }
}
