package graft.storage

import graft.TestSpark
import graft.core.RdfEvent

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Snapshot isolation for CONCURRENT readers (VERDICT r10 §7): every
  * write is one manifest commit, and no live file is ever renamed or
  * deleted in place, so
  *
  *   (a) a plan captured BEFORE a compaction executes correctly AFTER
  *       it (superseded files outlive the swap by the grace period) —
  *       the case the old rename-swap protocol failed with
  *       FILE_NOT_EXIST;
  *   (b) a reader planning at ANY instant during an append+compact
  *       storm sees exactly a batch-boundary row set — never a partial
  *       bucket, never a torn generation, never an error;
  *   (c) a batch spanning two buckets becomes visible as a whole.
  */
class ConcurrentCompactionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def ev(ts: Long, i: Int): RdfEvent =
    RdfEvent(ts, s"http://e.org/s$i", "http://e.org/p", i.toString,
      "http://e.org/g")

  private val HourMs = 3600L * 1000L

  test("a plan captured before compact() executes correctly after it " +
      "(grace keeps superseded files alive)") {
    val dir = Files.createTempDirectory("cc-stale").resolve("log")
    val log = new EventLog(spark, dir.toString, bucketMs = 10000L,
      autoCompactFiles = 0)
    (1 to 12).foreach { i =>
      log.append(RdfEvent.toDF(spark, Seq(ev(i * 100L, i))))
    }
    // capture the plan (and its explicit file snapshot) pre-compaction
    val staleView = log.query(0, Long.MaxValue / 2)
    assert(log.compact(maxFilesPerBucket = 2, graceMs = HourMs) === 1)
    // the snapshot's files were tombstoned but NOT deleted — the stale
    // plan still reads the full pre-compaction row set
    assert(staleView.count() === 12L)
    assert(staleView.collect().map(_.getLong(0)).sorted.toSeq ===
      (1 to 12).map(_ * 100L))
    // and a fresh plan reads the identical rows from the new generation
    assert(log.query(0, Long.MaxValue / 2).count() === 12L)
  }

  test("readers racing an append+compact storm always see a " +
      "batch-boundary row set — never partial, never an error") {
    val dir = Files.createTempDirectory("cc-storm").resolve("log")
    val log = new EventLog(spark, dir.toString, bucketMs = 100000L,
      autoCompactFiles = 0)
    val batchRows = 5
    val batches = 24
    // single-file appends (one task) so each append is one atomic
    // file-materialization — the batch boundary the reader may observe
    log.append(RdfEvent.toDF(spark,
      (0 until batchRows).map(j => ev(j + 1L, j))).coalesce(1))

    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0)

    val writer = new Thread(() => {
      try {
        (1 until batches).foreach { i =>
          log.append(RdfEvent.toDF(spark,
            (0 until batchRows).map(j => ev(i * 1000L + j + 1L,
              i * 100 + j))).coalesce(1))
          // aggressive: compact on every append, long grace so every
          // in-flight reader snapshot stays fully readable
          log.compact(maxFilesPerBucket = 2, graceMs = HourMs)
        }
      } catch {
        case t: Throwable => failures.add(s"writer: $t")
      } finally writerDone.set(true)
    })

    val readers = (0 until 3).map { r =>
      new Thread(() => {
        try {
          while (!writerDone.get()) {
            val n = log.query(0, Long.MaxValue / 2).count()
            if (n % batchRows != 0 || n < batchRows ||
                n > batches.toLong * batchRows)
              failures.add(s"reader$r: torn count $n")
            reads.incrementAndGet()
            ()
          }
        } catch {
          case t: Throwable => failures.add(s"reader$r: $t")
        }
      })
    }

    writer.start(); readers.foreach(_.start())
    writer.join(300000); readers.foreach(_.join(300000))
    assert(!writer.isAlive && readers.forall(!_.isAlive), "threads hung")
    assert(failures.isEmpty,
      s"concurrency violations: ${failures.toArray.mkString("; ")}")
    // the race actually happened: many reads interleaved the storm
    assert(reads.get() >= 10, s"only ${reads.get()} reads — no contention")
    // final state exact
    assert(log.query(0, Long.MaxValue / 2).count() ===
      batches.toLong * batchRows)
    // vacuum converges the disk to the live snapshot, data intact
    log.compact(maxFilesPerBucket = 1, graceMs = 0)
    log.compact(maxFilesPerBucket = 1, graceMs = 0)
    assert(log.query(0, Long.MaxValue / 2).count() ===
      batches.toLong * batchRows)
  }

  // A compaction commits its output by the manifest version it writes;
  // output moved into a bucket before that commit is not visible.
  test("interrupted compaction: uncommitted cdata output stays " +
      "invisible until its marker commits") {
    val dir = Files.createTempDirectory("cc-crash").resolve("log")
    val log = new EventLog(spark, dir.toString, bucketMs = 10000L,
      autoCompactFiles = 0)
    (1 to 4).foreach { i =>
      log.append(RdfEvent.toDF(spark, Seq(ev(i * 100L, i))))
    }
    assert(log.compact(maxFilesPerBucket = 2, graceMs = HourMs) === 1)
    // simulate a crash mid-compaction: duplicate the live compacted
    // file under a new name that no manifest version names
    val Seq(compacted) = log.read().inputFiles.toSeq
      .map(new org.apache.hadoop.fs.Path(_))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = compacted.getFileSystem(conf)
    val orphan = new org.apache.hadoop.fs.Path(compacted.getParent,
      "cdata-deadbeef-0.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, compacted, fs, orphan, false,
      conf)
    // uncommitted output must NOT double the data
    val log2 = new EventLog(spark, dir.toString, bucketMs = 10000L)
    assert(log2.query(0, Long.MaxValue / 2).count() === 4L)
    assert(log2.pointQuery(0, Long.MaxValue / 2).size === 4)
  }

  test("readers racing two-bucket driver-side appends never see part " +
      "of a batch") {
    val dir = Files.createTempDirectory("cc-straddle").resolve("log")
    val log = new EventLog(spark, dir.toString, bucketMs = 1000L,
      autoCompactFiles = 0)
    val batchRows = 10
    val batches = 30
    // batch i spans [i*1000 + 500, i*1000 + 1400]: half of its rows in
    // bucket i, half in bucket i+1 — one driver-side file per bucket
    def batch(i: Int) = RdfEvent.toDF(spark,
      (0 until batchRows).map(j => ev(i * 1000L + 500L + j * 100L,
        i * 100 + j)))
    assert(EventLog.localQuads(batch(0)).isDefined)
    log.append(batch(0))

    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val writer = new Thread(() => {
      try (1 until batches).foreach { i =>
        // an append never runs ahead of the readers: append i waits for
        // i finished reads, so the race holds however fast appends are
        while (reads.get() < i && failures.isEmpty) Thread.sleep(1)
        log.append(batch(i))
      }
      catch { case t: Throwable => failures.add(s"writer: $t") }
      finally writerDone.set(true)
    })
    val readers = (0 until 3).map { r =>
      new Thread(() => {
        try {
          while (!writerDone.get()) {
            val counts = Seq(log.query(0, Long.MaxValue / 2).count(),
              log.pointQuery(0, Long.MaxValue / 2).size.toLong)
            counts.foreach { n =>
              if (n % batchRows != 0 || n < batchRows ||
                  n > batches.toLong * batchRows)
                failures.add(s"reader$r: partial count $n")
            }
            reads.incrementAndGet()
            ()
          }
        } catch {
          case t: Throwable => failures.add(s"reader$r: $t")
        }
      })
    }

    writer.start(); readers.foreach(_.start())
    writer.join(300000); readers.foreach(_.join(300000))
    assert(!writer.isAlive && readers.forall(!_.isAlive), "threads hung")
    assert(failures.isEmpty,
      s"concurrency violations: ${failures.toArray.mkString("; ")}")
    assert(reads.get() >= 10, s"only ${reads.get()} reads — no contention")
    assert(log.query(0, Long.MaxValue / 2).count() ===
      batches.toLong * batchRows)
  }
}
