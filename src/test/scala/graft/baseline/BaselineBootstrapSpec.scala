package graft.baseline

import graft.TestSpark

import org.scalatest.funsuite.AnyFunSuite

/** Ports the reference's baseline accumulation tests
  * (`/root/reference/src/api/janus_api.rs:886-1074`, incl. the
  * `10,20 → 15` aggregate case at :1010-1037) against BOTH the local and
  * the distributed implementation. */
class BaselineBootstrapSpec extends AnyFunSuite {

  import BaselineBootstrap._

  private lazy val spark = TestSpark.spark

  private val s1 = "http://example.org/sensor1"

  test("AGGREGATE mode: values 10, 20 → mean 15 (janus_api.rs:1010-1037)") {
    val batches = Seq(Seq(
      Map("sensor" -> s1, "reading" -> "10"),
      Map("sensor" -> s1, "reading" -> "20")))
    val out = statementsLocal(batches, Aggregate)
    assert(out === Seq((s1, Namespace + "reading", "15")))
  }

  test("LAST mode keeps only the final window batch") {
    val batches = Seq(
      Seq(Map("sensor" -> s1, "reading" -> "10")),
      Seq(Map("sensor" -> s1, "reading" -> "30"),
        Map("sensor" -> s1, "reading" -> "50")))
    assert(statementsLocal(batches, Last) ===
      Seq((s1, Namespace + "reading", "40")))
    // AGGREGATE over the same batches averages everything
    assert(statementsLocal(batches, Aggregate) ===
      Seq((s1, Namespace + "reading", "30")))
  }

  test("anchor selection: preference order then alphabetical IRI " +
      "(janus_api.rs:773-792)") {
    assert(selectAnchor(Map("sensor" -> s1, "x" -> "http://e.org/x"))
      === Some(("sensor", s1)))
    assert(selectAnchor(Map("s" -> s1, "entity" -> "http://e.org/e"))
      === Some(("entity", "http://e.org/e")))
    // no preferred var: alphabetically first IRI-valued var
    assert(selectAnchor(Map("zed" -> "http://e.org/z", "alpha" -> "plain",
      "beta" -> "http://e.org/b")) === Some(("beta", "http://e.org/b")))
    // no IRI anywhere → no anchor
    assert(selectAnchor(Map("a" -> "42", "b" -> "text")) === None)
  }

  test("non-numeric values fall back to last seen; wrapped terms normalize") {
    val batches = Seq(Seq(
      Map("sensor" -> s"<$s1>", "label" -> "\"warm\""),
      Map("sensor" -> s"<$s1>", "label" -> "\"hot\"")))
    assert(statementsLocal(batches, Aggregate) ===
      Seq((s1, Namespace + "label", "hot")))
  }

  test("mixed numeric/non-numeric for one key → last value, not mean") {
    val batches = Seq(Seq(
      Map("sensor" -> s1, "v" -> "10"),
      Map("sensor" -> s1, "v" -> "n/a")))
    assert(statementsLocal(batches, Aggregate) ===
      Seq((s1, Namespace + "v", "n/a")))
  }

  test("statements sort deterministically by (subject, var)") {
    val batches = Seq(Seq(
      Map("sensor" -> "http://e.org/b", "v" -> "1", "w" -> "2"),
      Map("sensor" -> "http://e.org/a", "v" -> "3")))
    val subjects = statementsLocal(batches, Aggregate).map(_._1)
    assert(subjects === Seq("http://e.org/a", "http://e.org/b",
      "http://e.org/b"))
  }

  test("distributed statements() matches local on the aggregate case") {
    import spark.implicits._
    val bindings = Seq(
      (s1, "10"), (s1, "20"),
      ("http://example.org/sensor2", "7")).toDF("sensor", "reading")
    val got = statements(bindings, Aggregate).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set(
      (s1, Namespace + "reading", "15"),
      ("http://example.org/sensor2", Namespace + "reading", "7")))
  }

  test("distributed LAST mode restricts to the max window id") {
    import spark.implicits._
    val bindings = Seq(
      (0L, s1, "10"), (1L, s1, "30"), (1L, s1, "50"))
      .toDF("__window_id", "sensor", "reading")
    val got = statements(bindings, Last, windowIdCol = Some("__window_id"))
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(got === Set((s1, "40")))
  }

  test("distributed: rows without any IRI-valued var are dropped") {
    import spark.implicits._
    val bindings = Seq((s1, "10"), ("not an iri", "99"))
      .toDF("sensor", "reading")
    val got = statements(bindings, Aggregate).collect()
    assert(got.length === 1)
    assert(got(0).getString(2) === "10")
  }

  test("asStaticQuads materializes ts-0 default-graph triples " +
      "(janus_api.rs:682-705)") {
    val quads = asStaticQuads(Seq((s1, Namespace + "mean", "15")))
    assert(quads === Seq(graft.core.RdfEvent(0L, s1, Namespace + "mean",
      "15", "")))
  }

  test("end-to-end: baseline from historical window joins live query " +
      "(janus_api.rs:949-1007)") {
    // historical bindings: sensor1 readings 10 and 20 → baseline#reading 15
    val stmts = statementsLocal(
      Seq(Seq(Map("sensor" -> s1, "reading" -> "10"),
        Map("sensor" -> s1, "reading" -> "20"))), Aggregate)
    val results = scala.collection.mutable.ArrayBuffer.empty[
      (Map[String, String], Long)]
    val live = new graft.streaming.CompiledLiveStream(spark,
      """PREFIX ex: <http://example.org/>
        |PREFIX baseline: <https://janus.rs/baseline#>
        |PREFIX janus: <https://janus.rs/fn#>
        |REGISTER RStream <output> AS
        |SELECT ?sensor ?live ?hist
        |FROM NAMED WINDOW ex:w ON STREAM ex:stream [RANGE 1000 STEP 1000]
        |WHERE {
        |    WINDOW ex:w { ?sensor ex:reading ?live . }
        |    ?sensor baseline:reading ?hist .
        |    FILTER(janus:absolute_threshold_exceeded(?live, ?hist, 10))
        |}""".stripMargin,
      new graft.storage.EventLog(spark, java.nio.file.Files
        .createTempDirectory("baseline-live").resolve("log").toString),
      (rows, schema, _, to) => rows.foreach(r =>
        results += ((r.getValuesMap[String](schema.fieldNames.toSeq), to))))
    live.setStaticData(graft.core.RdfEvent.toDF(spark, asStaticQuads(stmts)))
    live.processBatch(graft.core.RdfEvent.toDF(spark, Seq(
      graft.core.RdfEvent(100L, s1, "http://example.org/reading", "40", ""),
      graft.streaming.CompiledLiveStream.sentinel(1000L))
      .map(_.copy(graph = "http://example.org/stream"))))
    assert(results.length === 1)
    assert(results.head._1("hist") === "15")
    assert(results.head._1("live") === "40")
  }
}
