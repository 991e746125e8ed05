package graft.storage

import graft.TestSpark
import graft.core.RdfEvent

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Storage write/read contract (SURVEY.md §2.1 S5/S8) mirroring the
  * semantics exercised by `/root/reference/tests/stream_bus_test.rs:172,501`
  * (`storage.query_rdf(0, u64::MAX)` returns everything written) and the
  * segmented read-path inclusive-bounds behavior. */
class EventLogSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshLog(bucketMs: Long = 1000L): EventLog =
    new EventLog(spark,
      Files.createTempDirectory("eventlog").resolve("log").toString, bucketMs)

  private def ev(ts: Long, n: Int): RdfEvent =
    RdfEvent(ts, s"http://e.org/s$n", "http://e.org/p", n.toString, "")

  test("append then full-range query returns everything") {
    val log = freshLog()
    log.append(RdfEvent.toDF(spark, (1 to 50).map(i => ev(i * 100L, i))))
    assert(log.query(0, Long.MaxValue).count() === 50)
  }

  test("storage failure surfaces as an error; append restores service " +
      "(ref: segmented_storage_error_test.rs)") {
    val dir = Files.createTempDirectory("eventlog-err").resolve("log")
    val log = new EventLog(spark, dir.toString, 1000L)
    log.append(RdfEvent.toDF(spark, (1 to 10).map(i => ev(i * 100L, i))))
    assert(log.query(0, Long.MaxValue).count() === 10)
    // yank the storage out from under the log — the analogue of the
    // reference's background-flush failure; queries must surface an
    // error, not silently return partial/empty results
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    intercept[Exception] { log.query(0, Long.MaxValue).count() }
    // deliberate divergence from the reference (which poisons the store
    // until shutdown): an append re-creates the log and restores service
    log.append(RdfEvent.toDF(spark, Seq(ev(50L, 1))))
    assert(log.query(0, Long.MaxValue).count() === 1)
  }

  test("append is cumulative (read-your-writes across batches)") {
    val log = freshLog()
    log.append(RdfEvent.toDF(spark, Seq(ev(10, 1))))
    log.append(RdfEvent.toDF(spark, Seq(ev(20, 2), ev(30, 3))))
    assert(log.read().count() === 3)
  }

  test("time-range query has inclusive bounds (segmented_storage.rs:308-463)") {
    val log = freshLog()
    log.append(RdfEvent.toDF(spark,
      Seq(ev(100, 1), ev(200, 2), ev(300, 3), ev(400, 4))))
    val got = log.query(200, 300).collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(200L, 300L))
  }

  test("bucket partition pruning: query range touches only relevant dirs") {
    val log = freshLog(bucketMs = 1000L)
    log.append(RdfEvent.toDF(spark,
      (0 until 100).map(i => ev(i * 100L, i)))) // buckets 0..9
    val plan = log.query(2500, 3500).queryExecution.executedPlan.toString
    // partition filter must appear in the scan (pruned directory listing)
    assert(plan.contains(EventLog.BucketCol))
    val got = log.query(2500, 3500).collect().map(_.getLong(0))
    assert(got.forall(t => t >= 2500 && t <= 3500))
    assert(got.length === 11)
  }

  test("pointQuery agrees with the distributed read path (inclusive " +
      "bounds, cross-file ranges, limit)") {
    val log = freshLog(bucketMs = 1000L)
    log.append(RdfEvent.toDF(spark, (1 to 50).map(i => ev(i * 100L, i))))
    log.append(RdfEvent.toDF(spark, (51 to 80).map(i => ev(i * 100L, i))))
    for ((lo, hi) <- Seq((0L, Long.MaxValue / 2), (500L, 500L),
        (450L, 550L), (4900L, 5300L), (99999L, 100000L))) {
      val local = log.pointQuery(lo, hi).map(e =>
        (e.timestamp, e.subject, e.objectValue)).sorted
      val dist = log.query(lo, hi).collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(3))).toSeq.sorted
      assert(local === dist, s"range [$lo,$hi]")
    }
    assert(log.pointQuery(0, Long.MaxValue / 2, limit = 7).size === 7)
    // index invalidation: appended data is visible to the local path
    log.append(RdfEvent.toDF(spark, Seq(ev(100000L, 999))))
    assert(log.pointQuery(100000L, 100000L).map(_.subject) ===
      Seq("http://e.org/s999"))
  }

  test("compact: many small appends collapse to few files, data intact") {
    val log = freshLog(bucketMs = 10000L) // all events in one bucket
    (1 to 12).foreach { i =>
      log.append(RdfEvent.toDF(spark, Seq(ev(i * 100L, i))))
    }
    val before = log.query(0, Long.MaxValue / 2).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(log.compact(maxFilesPerBucket = 8) === 1)
    // second call is a no-op (the bucket is already compact) — and with
    // grace 0 it VACUUMS the tombstoned generation: superseded files
    // are deleted, the marker stays (it reveals the live .cdata file)
    assert(log.compact(maxFilesPerBucket = 8, graceMs = 0) === 0)
    val after = log.query(0, Long.MaxValue / 2).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(after === before)
    // the point path agrees post-compaction (index + cache invalidated)
    assert(log.pointQuery(500L, 500L).map(_.subject) ===
      Seq("http://e.org/s5"))
    // the reader's snapshot is one file, and after the vacuum the DISK
    // holds exactly that file too (tombstoned generation reclaimed)
    assert(log.query(0, Long.MaxValue / 2).inputFiles.length === 1)
    val dir = new java.io.File(
      log.query(0, 1).inputFiles.head.stripPrefix("file:")).getParentFile
    val files = dir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(files === 1)
  }

  test("auto-compaction: repeated salted appends keep per-bucket file " +
      "counts bounded, queries identical across the compaction") {
    val log = new EventLog(spark,
      Files.createTempDirectory("eventlog-auto").resolve("log").toString,
      bucketMs = 100000L, // one bucket for all events
      autoCompactFiles = 4, autoCompactEvery = 4)
    var expected = Vector.empty[(Long, String)]
    (1 to 20).foreach { i =>
      // salted bulk append: 3 files land in the single bucket per call
      log.appendBulk(RdfEvent.toDF(spark,
        (0 until 6).map(j => ev(i * 1000L + j, i * 10 + j))),
        parallelism = 3, splitsPerBucket = 3)
      expected ++= (0 until 6).map(j =>
        (i * 1000L + j, s"http://e.org/s${i * 10 + j}"))
      // a query straddling whichever compactions have fired so far
      // sees exactly the appended rows
      if (i % 5 == 0) {
        val got = log.query(0, Long.MaxValue / 2).collect()
          .map(r => (r.getLong(0), r.getString(1))).sorted.toVector
        assert(got === expected.sorted)
      }
    }
    // without the hook: 20 appends × 3 salted files = 60 files in the
    // reader's snapshot; the every-4-appends trigger at threshold 4
    // bounds the LIVE set by autoCompactFiles + autoCompactEvery×3 = 16
    // (superseded generations linger on disk only until the grace-based
    // vacuum — asserted below)
    val files = log.query(0, Long.MaxValue / 2).inputFiles.length
    assert(files <= 16, s"auto-compaction failed to bound files: $files")
    assert(files < 60)
    // and the data survived every rewrite
    val all = log.query(0, Long.MaxValue / 2).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toVector
    assert(all === expected.sorted)
    // an explicit zero-grace compact vacuums every tombstoned
    // generation: disk converges to the live snapshot
    log.compact(maxFilesPerBucket = 1, graceMs = 0)
    log.compact(maxFilesPerBucket = 1, graceMs = 0)
    val dir = new java.io.File(
      log.query(0, 1).inputFiles.head.stripPrefix("file:")).getParentFile
    val onDisk = dir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(onDisk === 1, s"vacuum left $onDisk files on disk")
    assert(log.query(0, Long.MaxValue / 2).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toVector
      === expected.sorted)
  }

  test("appendBulk auto mode: small input skips estimation, bounded " +
      "salt (<= 2 files per bucket); explicit splits honored") {
    val log = freshLog(bucketMs = 1000L)
    // 4 buckets x 500 rows, well under the AutoEstimateBytes threshold
    val rows = (0 until 2000).map(i => ev(i.toLong * 2, i))
    log.appendBulk(RdfEvent.toDF(spark, rows), parallelism = 8)
    assert(log.query(0, Long.MaxValue / 2).count() === 2000)
    val root = new java.io.File(
      log.query(0, 1).inputFiles.head.stripPrefix("file:"))
      .getParentFile.getParentFile
    val perBucket = root.listFiles().filter(_.getName.startsWith("ts_bucket="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    // fast path salts with 2: a bucket's rows land in at most 2 tasks
    assert(perBucket.nonEmpty && perBucket.forall(_ <= 2))
    // explicit splits bypasses both estimation and the fast path
    val log3 = freshLog(bucketMs = 1000L)
    log3.appendBulk(RdfEvent.toDF(spark, rows), parallelism = 8,
      splitsPerBucket = 3)
    val root3 = new java.io.File(
      log3.query(0, 1).inputFiles.head.stripPrefix("file:"))
      .getParentFile.getParentFile
    val perBucket3 = root3.listFiles().filter(_.getName.startsWith("ts_bucket="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perBucket3.nonEmpty && perBucket3.forall(_ <= 3))
  }

  test("fresh log reads as empty, not as a missing-path error") {
    val log = freshLog()
    assert(log.read().count() === 0)
    assert(log.query(0, 1000).count() === 0)
    assert(log.pointQuery(0, 1000).isEmpty)
  }

  test("negative timestamps: write buckets agree with query pruning " +
      "(floor division on both sides)") {
    val log = freshLog(bucketMs = 1000L)
    log.append(RdfEvent.toDF(spark,
      Seq(ev(-5000L, 0), ev(-1L, 1), ev(500L, 2))))
    assert(log.query(-6000, -1).count() === 2)
    assert(log.query(-5000, -5000).count() === 1)
    assert(log.query(-6000, 600).count() === 3)
    assert(log.pointQuery(-6000, -1).map(_.timestamp).sorted ===
      Seq(-5000L, -1L))
  }

  test("pointQuery is globally ts-ordered across overlapping files; " +
      "limit takes the earliest") {
    val log = freshLog(bucketMs = 1000000L) // one bucket, many files
    log.append(RdfEvent.toDF(spark, Seq(ev(10, 0), ev(100, 1))))
    log.append(RdfEvent.toDF(spark, Seq(ev(50, 2), ev(150, 3))))
    val all = log.pointQuery(0, 200)
    assert(all.map(_.timestamp) === Seq(10L, 50L, 100L, 150L))
    assert(log.pointQuery(0, 200, limit = 2).map(_.timestamp) ===
      Seq(10L, 50L))
  }

  test("compact recovery: a crash between the rename steps leaves only " +
      ".compact-old — the next compact restores it, no data loss") {
    val log = freshLog(bucketMs = 1000L)
    log.append(RdfEvent.toDF(spark, (0 until 20).map(i => ev(i * 10L, i))))
    val root = new org.apache.hadoop.fs.Path(
      log.read().inputFiles.head).getParent.getParent
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the crash window: bucket dir moved aside, replacement
    // never landed
    val bucket = fs.listStatus(root)
      .find(_.getPath.getName.startsWith("ts_bucket=")).get.getPath
    val old = new org.apache.hadoop.fs.Path(root,
      s".compact-old-${bucket.getName}")
    assert(fs.rename(bucket, old))
    // that crash window belongs to the pre-manifest format: drop the
    // manifest, so opening the log migrates it
    fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith(EventLog.ManifestPrefix))
      .foreach(fs.delete(_, false))
    val log2 = new EventLog(spark, root.toString, bucketMs = 1000L)
    log2.compact() // must RESTORE, not delete, the orphaned copy
    assert(log2.read().count() === 20)
  }

  test("quads survive roundtrip with term values intact") {
    val log = freshLog()
    val in = Seq(RdfEvent(42L, "http://e.org/s", "http://e.org/p",
      "a \"quoted\" value", "http://g.org/g1"))
    log.append(RdfEvent.toDF(spark, in))
    val r = log.read().collect()(0)
    assert(r.getString(1) === "http://e.org/s")
    assert(r.getString(3) === "a \"quoted\" value")
    assert(r.getString(4) === "http://g.org/g1")
  }

  test("ReplayBus.ingestFile: N-Quads file → storage (stream_bus contract)") {
    val dir = Files.createTempDirectory("replay")
    val nq = dir.resolve("data.nq")
    Files.writeString(nq,
      """100 <http://e.org/a> <http://e.org/p> "1" .
        |200 <http://e.org/b> <http://e.org/p> "2" <http://g.org/g> .
        |garbage line
        |300 <http://e.org/c> <http://e.org/p> "3.5"^^<http://www.w3.org/2001/XMLSchema#decimal> .
        |""".stripMargin)
    val log = new EventLog(spark, dir.resolve("log").toString, 1000L)
    val (stored, errors) = ReplayBus.ingestFile(spark, nq.toString, log)
    assert(stored === 3)
    assert(errors === 1)
    assert(log.query(0, Long.MaxValue).count() === 3)
  }

  test("ReplayBus paced replay publishes to sink and storage with metrics") {
    val dir = Files.createTempDirectory("replay2")
    val nq = dir.resolve("data.nq")
    Files.writeString(nq,
      (1 to 20).map(i =>
        s"""${i * 10} <http://e.org/s$i> <http://e.org/p> "$i" .""")
        .mkString("", "\n", "\n"))
    val log = new EventLog(spark, dir.resolve("log").toString, 1000L)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val bus = new ReplayBus(spark, nq.toString, storage = Some(log),
      sink = Some(evs => seen.synchronized { seen += evs.length }),
      loopCount = 2, batchSize = 7)
    val m = bus.run()
    assert(m.linesRead === 40)
    assert(m.published === 40)
    assert(m.stored === 40)
    assert(m.errors === 0)
    assert(log.read().count() === 40)
    assert(seen.sum === 40)
  }

  // ---- driver-resident appends --------------------------------------

  private def hadoopFs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The visible data files of each bucket directory, by bucket name. */
  private def bucketFiles(log: EventLog): Map[String, Seq[Path]] = {
    val root = new Path(log.read().inputFiles.head).getParent.getParent
    hadoopFs(root).listStatus(root).toSeq
      .filter(_.getPath.getName.startsWith(EventLog.BucketCol + "="))
      .map(d => d.getPath.getName -> hadoopFs(root).listStatus(d.getPath)
        .toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith("part-") &&
          p.getName.endsWith(".parquet")))
      .toMap
  }

  private def footer(p: Path) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p,
      spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  private def fileTimestamps(p: Path): Seq[Long] = {
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try Iterator.continually(reader.read()).takeWhile(_ != null)
      .map(_.getLong("timestamp", 0)).toVector
    finally reader.close()
  }

  private def rows(log: EventLog) =
    log.query(Long.MinValue / 4, Long.MaxValue / 4).collect()
      .map(r => (0 until 5).map(i => Option(r.get(i)).map(_.toString)))
      .toSeq.sortBy(_.mkString("|"))

  test("an append of RdfEvent.toDF rows launches no Spark job") {
    val log = freshLog(bucketMs = 1000L)
    val batches = (0 until 3).map(b => RdfEvent.toDF(spark,
      (0 until 200).map(i => ev(b * 1000L + i * 7L, i))))
    batches.foreach(df => assert(EventLog.localQuads(df).isDefined))
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      batches.foreach(log.append)
      // let the async listener bus drain before reading the counter
      Thread.sleep(1000)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() === 0)
    assert(log.pointQuery(0L, 10000L).size === 600)
    assert(log.query(0L, 10000L).count() === 600)
  }

  test("a driver-side batch spanning two buckets lands as one " +
      "timestamp-sorted file per bucket") {
    val log = freshLog(bucketMs = 1000L)
    val shuffled = new scala.util.Random(3).shuffle(
      (0 until 40).map(i => ev(500L + i * 31L, i)))
    log.append(RdfEvent.toDF(spark, shuffled))
    val files = bucketFiles(log)
    assert(files.keySet === Set("ts_bucket=0", "ts_bucket=1"))
    assert(files.values.forall(_.size == 1))
    files.foreach { case (bucket, Seq(f)) =>
      val ts = fileTimestamps(f)
      val b = bucket.stripPrefix("ts_bucket=").toLong
      assert(ts === ts.sorted)
      assert(ts.forall(t => math.floorDiv(t, 1000L) == b))
    }
    assert(files.values.flatten.toSeq.map(fileTimestamps).map(_.size).sum
      === 40)
  }

  test("a driver-side batch whose second bucket fails to write leaves " +
      "no row of the batch visible, and a retry lands it once") {
    val dir = Files.createTempDirectory("eventlog-fail").resolve("log")
    val log = new EventLog(spark, dir.toString, 1000L)
    log.append(RdfEvent.toDF(spark, (0 until 5).map(i => ev(i * 10L, i))))
    // a plain file where bucket 1's directory would go: the write into
    // bucket 1 fails after bucket 0's file was written
    val blocker = dir.resolve("ts_bucket=1")
    Files.write(blocker, Array[Byte](1))
    val batch = RdfEvent.toDF(spark,
      (5 until 25).map(i => ev(500L + i * 31L, i)))
    assert(EventLog.localQuads(batch).isDefined)
    intercept[java.io.IOException](log.append(batch))
    Files.delete(blocker)
    assert(log.query(0L, 10000L).count() === 5)
    assert(log.pointQuery(0L, 10000L).size === 5)
    // nothing of the failed batch is left on disk, hidden or not
    val bucket0 = dir.resolve("ts_bucket=0").toFile
    assert(bucket0.listFiles().map(_.getName)
      .count(n => n.startsWith("part-") && n.endsWith(".parquet")) === 1)
    log.append(batch)
    assert(log.query(0L, 10000L).count() === 25)
  }

  test("a driver-written file carries the parquet schema and footer " +
      "Spark writes for the same rows, and timestamp min/max") {
    val events = (0 until 30).map(i => ev(100L + i * 11L, i))
    // RdfEvent.toDF declares its columns non-nullable, the log's schema
    // nullable; Spark keeps an input's nullability, so check both
    val nonNullable = () => RdfEvent.toDF(spark, events)
    val nullable = () => spark.createDataFrame(
      events.map(RdfEvent.toRow).asJava, EventLog.DataSchema)
    for (input <- Seq(nonNullable, nullable)) {
      val local = freshLog(bucketMs = 100000L)
      assert(EventLog.localQuads(input()).isDefined)
      local.append(input())
      // the same rows through the Spark writer (a non-local plan)
      val viaSpark = freshLog(bucketMs = 100000L)
      val distributed = input().repartition(1)
      assert(EventLog.localQuads(distributed).isEmpty)
      viaSpark.append(distributed)
      val Seq(ours) = bucketFiles(local)("ts_bucket=0")
      val Seq(theirs) = bucketFiles(viaSpark)("ts_bucket=0")
      val (fo, ft) = (footer(ours), footer(theirs))
      assert(fo.getFileMetaData.getSchema === ft.getFileMetaData.getSchema)
      assert(fo.getFileMetaData.getKeyValueMetaData ===
        ft.getFileMetaData.getKeyValueMetaData)
      val codecs = Seq(fo, ft).map(_.getBlocks.asScala.flatMap(
        _.getColumns.asScala.map(_.getCodec)).toSet)
      assert(codecs.head === codecs.last)
      val encodings = Seq(fo, ft).map(_.getBlocks.asScala.flatMap(
        _.getColumns.asScala.flatMap(_.getEncodings.asScala)).toSet)
      assert(encodings.head === encodings.last)
      val stats = fo.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == "timestamp").map(_.getStatistics)
      assert(stats.nonEmpty && stats.forall(!_.isEmpty))
      assert(stats.map(_.genericGetMin.asInstanceOf[java.lang.Long]
        .longValue).min === 100L)
      assert(stats.map(_.genericGetMax.asInstanceOf[java.lang.Long]
        .longValue).max === 100L + 29 * 11L)
      // and the point path, which reads those stats, agrees with query
      for ((lo, hi) <- Seq((0L, 1000L), (155L, 155L), (150L, 300L))) {
        assert(local.pointQuery(lo, hi).map(e => (e.timestamp, e.subject))
          === local.query(lo, hi).collect()
            .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted,
          s"range [$lo,$hi]")
      }
    }
  }

  test("null graph and object values round-trip through a driver-side " +
      "append") {
    val nullable = org.apache.spark.sql.types.StructType(
      RdfEvent.schema.fields.map(_.copy(nullable = true)))
    val in = Seq(
      org.apache.spark.sql.Row(10L, "http://e.org/a", "http://e.org/p",
        null, "http://g.org/g"),
      org.apache.spark.sql.Row(20L, "http://e.org/b", "http://e.org/p",
        "x", null))
    val df = spark.createDataFrame(in.asJava, nullable)
    assert(EventLog.localQuads(df).isDefined)
    val log = freshLog()
    log.append(df)
    assert(rows(log) === Seq(
      Seq(Some("10"), Some("http://e.org/a"), Some("http://e.org/p"), None,
        Some("http://g.org/g")),
      Seq(Some("20"), Some("http://e.org/b"), Some("http://e.org/p"),
        Some("x"), None)))
    assert(log.pointQuery(0L, 100L).map(e => (e.objectValue, e.graph)) ===
      Seq((null, "http://g.org/g"), ("x", null)))
  }

  test("a bucket mixing driver-written and Spark-written files compacts " +
      "to the same rows") {
    val log = freshLog(bucketMs = 100000L)
    log.append(RdfEvent.toDF(spark, (0 until 10).map(i => ev(i * 10L, i))))
    log.appendBulk(RdfEvent.toDF(spark,
      (10 until 30).map(i => ev(i * 10L, i))), parallelism = 2,
      splitsPerBucket = 2)
    log.append(RdfEvent.toDF(spark,
      (30 until 40).map(i => ev(i * 10L + 5L, i))))
    val before = rows(log)
    assert(before.size === 40)
    assert(log.query(0L, 100000L).inputFiles.length >= 3)
    assert(log.compact(maxFilesPerBucket = 1) === 1)
    assert(log.query(0L, 100000L).inputFiles.length === 1)
    assert(rows(log) === before)
    assert(log.pointQuery(0L, 1000L).map(_.timestamp) ===
      before.map(_.head.get.toLong).sorted)
  }

  /** What a write that died before its commit leaves: a complete
    * parquet file (and its checksum) at `rel` under the log that no
    * manifest version names. It is never read, and compact sweeps it
    * once it is past the grace. */
  private def assertUnnamedFileIgnoredThenSwept(what: String,
      rel: String): Unit = {
    val dir = Files.createTempDirectory("eventlog-unnamed").resolve("log")
    val log = new EventLog(spark, dir.toString, 1000L)
    log.append(RdfEvent.toDF(spark, (0 until 10).map(i => ev(i * 10L, i))))
    val Seq(data) = bucketFiles(log)("ts_bucket=0")
    val fs = hadoopFs(data)
    val orphan = new Path(dir.toString, rel)
    val in = fs.open(data)
    val bytes = try in.readAllBytes() finally in.close()
    val out = fs.create(orphan)
    try out.write(bytes) finally out.close()
    def onDisk = Files.walk(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.contains("orphan")).toSet
    assert(onDisk.exists(_.endsWith(".crc")), what)
    val reader = new EventLog(spark, dir.toString, 1000L)
    assert(reader.query(0L, 1000L).count() === 10, what)
    assert(reader.pointQuery(0L, 1000L).size === 10, what)
    assert(!reader.read().inputFiles.exists(_.contains("orphan")), what)
    // inside the grace period the file is left alone
    assert(reader.compact() === 0)
    assert(onDisk.nonEmpty, what)
    assert(reader.compact(graceMs = 0) === 0)
    assert(onDisk.isEmpty, s"$what: $onDisk")
    assert(reader.query(0L, 1000L).count() === 10, what)
  }

  test("a stale driver-append temp file is never read, and compact " +
      "sweeps it (with its checksum) once past the grace") {
    assertUnnamedFileIgnoredThenSwept("an uncommitted driver append",
      "ts_bucket=0/part-00000-orphan.c000.lz4.parquet")
    assertUnnamedFileIgnoredThenSwept(
      "a driver append's temporary name from before the manifest",
      "ts_bucket=0/.append-part-00000-orphan.c000.parquet")
  }

  test("a data file that no manifest names is never read, and compact " +
      "sweeps it once it is past the grace") {
    assertUnnamedFileIgnoredThenSwept("a Spark write's staging directory",
      ".staging-orphan/ts_bucket=0/part-00000-orphan.c000.lz4.parquet")
  }

  test("a pre-manifest log opens with the marker-resolved rows") {
    val dir = Files.createTempDirectory("eventlog-legacy").resolve("log")
    val fs = hadoopFs(new Path(dir.toString))
    /** Write `events` as one parquet file at `rel` under the log. */
    def plant(rel: String, events: Seq[RdfEvent]): Unit = {
      val tmp = Files.createTempDirectory("eventlog-plant").resolve("out")
      RdfEvent.toDF(spark, events).coalesce(1).write
        .option("compression", "lz4").parquet(tmp.toString)
      val Seq(part) = fs.listStatus(new Path(tmp.toString)).toSeq
        .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      val to = new Path(dir.toString, rel)
      fs.mkdirs(to.getParent)
      assert(fs.rename(part, to))
    }
    def evs(ts: Seq[Long]) = ts.map(t => ev(t, t.toInt))
    plant("ts_bucket=0/part-a.parquet", evs(1L to 5L))
    // compacted by the old format into cdata-g1-0, which its marker adds
    plant("ts_bucket=0/part-b.parquet", evs(6L to 10L))
    plant("ts_bucket=0/cdata-g1-0.parquet", evs(6L to 10L))
    Files.writeString(dir.resolve("ts_bucket=0/_compact-100-g1.json"),
      """{"add":["cdata-g1-0.parquet"],"drop":["part-b.parquet"]}""")
    // an interrupted compaction (no marker) and a dead driver append
    plant("ts_bucket=0/cdata-dead-0.parquet", evs(11L to 15L))
    plant("ts_bucket=0/.append-part-c.parquet", evs(16L to 20L))
    plant("ts_bucket=1/part-d.parquet", evs(1001L to 1005L))
    val expected = ((1L to 10L) ++ (1001L to 1005L)).toSeq
    def manifests = fs.listStatus(new Path(dir.toString)).toSeq
      .map(_.getPath.getName).filter(_.startsWith(EventLog.ManifestPrefix))

    assert(manifests.isEmpty)
    val log = new EventLog(spark, dir.toString, 1000L)
    assert(log.query(0L, 10000L).collect().map(_.getLong(0)).sorted.toSeq
      === expected)
    assert(log.pointQuery(0L, 10000L).map(_.timestamp) === expected)
    val Seq(migrated) = manifests
    // a second open reads that manifest and does not migrate again: a
    // plain file planted since stays unread
    plant("ts_bucket=1/part-e.parquet", evs(1006L to 1010L))
    val reopened = new EventLog(spark, dir.toString, 1000L)
    assert(reopened.query(0L, 10000L).collect().map(_.getLong(0)).sorted
      .toSeq === expected)
    assert(manifests === Seq(migrated))
  }

  test("the log root holds one manifest version, and a compaction's " +
      "dropped files stay on disk until the drop is past the grace") {
    val dir = Files.createTempDirectory("eventlog-versions").resolve("log")
    val log = new EventLog(spark, dir.toString, 1000L, autoCompactFiles = 0)
    (0 until 4).foreach(i =>
      log.append(RdfEvent.toDF(spark, Seq(ev(i * 10L, i)))))
    val fs = hadoopFs(new Path(dir.toString))
    def manifests = fs.listStatus(new Path(dir.toString)).toSeq
      .map(_.getPath.getName).filter(_.startsWith(EventLog.ManifestPrefix))
    def dataFiles = Files.walk(dir).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    def count(l: EventLog) = l.query(0L, 1000L).count()
    assert(manifests.size === 1)
    assert(dataFiles === 4)
    assert(log.compact(maxFilesPerBucket = 1) === 1)
    assert(manifests.size === 1)
    // the four dropped files stay for readers inside the grace
    assert(dataFiles === 5)
    assert(log.compact() === 0)
    assert(dataFiles === 5)
    assert(count(new EventLog(spark, dir.toString, 1000L)) === 4)
    assert(log.compact(graceMs = 0) === 0)
    assert(manifests.size === 1)
    assert(dataFiles === 1)
    assert(count(log) === 4)
    assert(count(new EventLog(spark, dir.toString, 1000L)) === 4)
  }

  test("a Spark-path append of a batch already coalesced to one " +
      "partition lands as one data file") {
    val dir = Files.createTempDirectory("eventlog-narrow").resolve("log")
    val log = new EventLog(spark, dir.toString, 1000L, autoCompactFiles = 0)
    val batch = RdfEvent.toDF(spark, (0 until 5).map(i => ev(i * 10L, i)))
      .coalesce(1)
    assert(EventLog.localQuads(batch).isEmpty) // the Spark writer path
    log.append(batch)
    val files = Files.walk(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(files.size === 1, s"expected one data file, found $files")
    assert(log.query(0L, 1000L).count() === 5)
  }

  test("a local append and a compaction write files, checksums, bucket " +
      "directories and manifests with Hadoop's default permissions, " +
      "without forking a process; the footer index spans are unchanged") {
    val dir = Files.createTempDirectory("eventlog-perms").resolve("log")
    val log = new EventLog(spark, dir.toString, 1000L, autoCompactFiles = 0)
    // every process the JVM starts, from a JFR recording
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try {
      (0 until 3).foreach(b => log.append(RdfEvent.toDF(spark,
        (0 until 5).map(i => ev(b * 1000L + i * 100L, i)))))
      log.append(RdfEvent.toDF(spark, Seq(ev(2700L, 7), ev(2800L, 8))))
      assert(log.compact(maxFilesPerBucket = 1) === 1) // bucket 2
    } finally recording.stop()
    val jfr = Files.createTempFile("eventlog-perms", ".jfr")
    recording.dump(jfr)
    recording.close()
    val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .map(_.getString("command")).filter(_.contains(dir.toString))
    assert(forks.size === 0,
      s"processes started on the log, first: ${forks.headOption}")

    val umask = FsPermission.getUMask(spark.sparkContext.hadoopConfiguration)
    def bits(p: FsPermission) = p.applyUMask(umask).toString
    val written = Files.walk(dir).iterator().asScala.toSeq.filter(_ != dir)
    def named(pred: String => Boolean) =
      written.filter(p => pred(p.getFileName.toString))
    val kinds = Seq(
      "data file" -> named(_.endsWith(".parquet")),
      "checksum" -> named(_.endsWith(".crc")),
      "manifest" -> named(_.startsWith(EventLog.ManifestPrefix)),
      "bucket directory" -> written.filter(Files.isDirectory(_)))
    kinds.foreach { case (kind, paths) => assert(paths.nonEmpty, kind) }
    kinds.foreach { case (kind, paths) =>
      val want = bits(if (kind == "bucket directory")
        FsPermission.getDirDefault else FsPermission.getFileDefault)
      paths.foreach(p => assert(PosixFilePermissions.toString(
        Files.getPosixFilePermissions(p)) === want, s"$kind $p"))
    }

    // each live file's index span is the (min, max) of its timestamps
    val live = log.read().inputFiles.toSeq.map(new Path(_))
    assert(live.size === 3)
    val spans = live.map { f =>
      val ts = fileTimestamps(f)
      f.toUri.getPath -> (ts.min, ts.max)
    }.toMap
    for ((lo, hi) <- Seq((0L, 400L), (400L, 1000L), (1300L, 2650L),
        (2750L, 2750L), (2850L, 5000L), (0L, 5000L))) {
      val want = spans.collect { case (f, (a, b)) if a <= hi && b >= lo => f }
      assert(log.filesBetween(lo, hi).map(_.getPath.toUri.getPath).toSet ===
        want.toSet, s"files between $lo and $hi")
    }
  }
}
