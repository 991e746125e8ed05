package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persistent, timestamp-indexed quad log — Spark-native rebuild of
  * the reference's segmented storage (SURVEY.md §2.1 S5–S8, S11).
  *
  * The reference appends 24-byte dictionary-encoded records to segment
  * files with a two-level sparse time index
  * (`/root/reference/src/storage/segmented_storage.rs:117-163,241-294`).
  * Here the same contract — `append(quads)` + `query(start,end)` with
  * time pruning — maps onto a Parquet table partitioned by time bucket:
  *
  *   - segment files        → Parquet files (row groups ≈ segments)
  *   - dictionary encoding  → the [[graft.storage.Dictionary]] component
  *                            (S9/S10); Parquet's own per-file dicts are
  *                            disabled here — see the write options
  *   - sparse ts index      → partition dirs (`ts_bucket=`) + row-group
  *                            min/max stats; `query` filters on BOTH the
  *                            bucket column (directory pruning) and
  *                            `timestamp` (row-group + page pruning)
  *   - segment index        → one versioned manifest at the log root
  *                            (`_manifest-<v>.json`) naming every live
  *                            file; readers bind to one version, so
  *                            they see whole commits (see [[commit]])
  *
  * Scale notes: append never materializes a distributed input on the
  * driver — a 1000-executor cluster writes each micro-batch in parallel
  * into bucket directories — while a batch that is ALREADY on the
  * driver (a local relation) is written in-process without a Spark job
  * (see [[append]] for the two paths, the rule that picks one, and the
  * crash and visibility argument). Time-range queries touch only
  * overlapping buckets regardless of total log size.
  *
  * @param bucketMs partition granularity (default 1 h, mirroring a
  *   "segment per time slice"; coarse enough to avoid small-file
  *   explosion at high event rates, fine enough to prune hard)
  * @param autoCompactFiles automatic-compaction trigger: after an
  *   append, any bucket holding more than this many data files is
  *   rewritten by [[compact]] (0 disables). Closes the log-structured
  *   loop for long-running ingest — micro-batch appends and
  *   appendBulk's salting both accumulate small files per bucket, and
  *   without a trigger a 100× ingest run degrades listings and
  *   row-group stats until someone calls compact by hand.
  * @param autoCompactEvery how many appends between trigger checks.
  *   The check lists every bucket directory (O(buckets) namespace
  *   RPCs), so it is amortized across appends rather than paid per
  *   micro-batch; file counts stay bounded by
  *   `autoCompactFiles + autoCompactEvery × files-per-append`.
  */
final class EventLog(
    spark: SparkSession,
    path: String,
    bucketMs: Long = 3600L * 1000L,
    compression: String = "lz4",
    autoCompactFiles: Int = 32,
    autoCompactEvery: Int = 16) extends Serializable {

  import EventLog._

  /** Cached reader DataFrame. A fresh `spark.read.parquet` per query
    * re-resolves the file set and re-infers the schema — pure
    * overhead on a hot read path (the reference amortizes its segment
    * index the same way). Invalidated on every commit. */
  @transient private var cachedTable: Option[DataFrame] = None

  private def table: DataFrame = synchronized {
    cachedTable.getOrElse {
      // a log that has never been appended to reads as EMPTY (the
      // reference's fresh storage dir), not as a PATH_NOT_FOUND error.
      // The reader binds to the EXPLICIT file list of one committed
      // manifest version (not the directory), so a plan sees exactly
      // one commit's row set, and superseded files outlive in-flight
      // plans by the compaction grace (ConcurrentCompactionSpec).
      val files = liveFiles().map(_.toString)
      val df =
        if (files.isEmpty) spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], LogSchema)
        else spark.read.schema(LogSchema).option("basePath", path)
          .parquet(files: _*)
      cachedTable = Some(df)
      df
    }
  }

  // ---- the manifest: which data files are live -------------------------
  //
  // One versioned manifest at the log root, `_manifest-<v>.json`, is
  // the only record of which data files are live: it lists each live
  // file's path relative to the root (`ts_bucket=<b>/<name>`). A
  // commit applies an add/drop delta to the latest version under this
  // instance's lock, writes version v+1 under a hidden temporary name
  // and renames it into place — one atomic namespace operation per
  // append, compaction or prune, however many files or buckets it
  // touches. Readers never list bucket directories: they bind to one
  // version's file list. Only the latest version stays on disk (a
  // commit deletes the one it superseded); it also lists, with its drop
  // time, every file a compaction dropped within the grace period,
  // which stays on disk until a later compact() vacuums it, so every
  // path an in-flight reader captured stays readable. Single-writer:
  // the lock orders this instance's commits, and a commit starts from
  // the latest version on disk, so a log another instance wrote
  // earlier is extended, not overwritten (an instance opening the log
  // while another process commits may find its listed version gone).

  private def root = new org.apache.hadoop.fs.Path(path)

  private def fileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Last version this instance committed or read (None: not yet). */
  @transient private var state: Option[Manifest] = None

  /** The highest committed version on disk (an empty manifest of
    * version -1 when the log does not exist). A log without any
    * manifest is migrated when this instance first looks at it
    * ([[migrate]]); writers look before they write, so a migration
    * never mistakes their files for pre-manifest ones.
    *
    * This instance's state is the latest while its version is still on
    * disk and the next one is not: two probes instead of a listing of a
    * root that holds every bucket directory. */
  private def latest(fs: org.apache.hadoop.fs.FileSystem): Manifest =
    synchronized {
      val m = state.filter(s => s.version >= 0 &&
          fs.exists(manifestPath(s.version)) &&
          !fs.exists(manifestPath(s.version + 1))).getOrElse {
        if (!fs.exists(root)) Manifest(-1L, Vector.empty, Vector.empty)
        else fs.listStatus(root).flatMap(st =>
            manifestVersion(st.getPath.getName)).maxOption match {
          case Some(v) => readManifest(fs, v)
          case None => state.filter(_.version < 0).getOrElse(migrate(fs))
        }
      }
      state = Some(m)
      m
    }

  /** This instance's last committed or read version; on first use, the
    * highest version on disk (a log another instance wrote). */
  private def current(fs: org.apache.hadoop.fs.FileSystem): Manifest =
    synchronized(state.getOrElse(latest(fs)))

  /** The live data files readers bind to. */
  private def liveFiles(): Vector[org.apache.hadoop.fs.Path] =
    current(fileSystem).files.map(new org.apache.hadoop.fs.Path(root, _))

  private def manifestPath(v: Long) =
    new org.apache.hadoop.fs.Path(root, f"$ManifestPrefix$v%020d.json")

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      v: Long): Manifest = {
    val json = readText(fs, manifestPath(v))
    Manifest(v, listIn(json, "files").toVector,
      "\"([^\"]*)\":(\\d+)".r
        .findAllMatchIn(valueOf(json, "dropped", '{', '}'))
        .map(d => d.group(1) -> d.group(2).toLong).toVector)
  }

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      m: Manifest): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(root,
      s"$ManifestTempPrefix${m.version}-${java.util.UUID.randomUUID()}")
    val json = m.files.map("\"" + _ + "\"").mkString("""{"files":[""", ",",
      "],") + m.dropped.map { case (f, ms) => s""""$f":$ms""" }
      .mkString(""""dropped":{""", ",", "}}")
    val os = fs.create(tmp, true)
    try os.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    require(fs.rename(tmp, manifestPath(m.version)),
      s"failed to commit manifest version ${m.version} of $path")
  }

  /** Make `next` the latest version and delete the one it superseded
    * (a crash in between leaves an older version that [[vacuum]]
    * deletes). Under the lock. */
  private def publish(fs: org.apache.hadoop.fs.FileSystem,
      next: Manifest): Manifest = {
    writeManifest(fs, next)
    fs.delete(manifestPath(next.version - 1), false)
    state = Some(next)
    next
  }

  /** Commit one version: `adds` (relative paths), minus `drops`, which
    * are kept on disk as dropped until [[vacuum]] finds them past the
    * grace. With a `stage` directory, each add is first moved from the
    * same relative path under it into the log; the stage is deleted
    * either way. Returns false, committing nothing, when a drop is no
    * longer live (a compaction that raced a prune is abandoned). */
  private def commit(fs: org.apache.hadoop.fs.FileSystem, adds: Seq[String],
      drops: Set[String] = Set.empty,
      stage: Option[org.apache.hadoop.fs.Path] = None): Boolean = {
    val ok = synchronized {
      val base = latest(fs)
      val live = base.files.toSet
      val ok = drops.forall(live.contains)
      if (ok && (adds.nonEmpty || drops.nonEmpty)) {
        stage.foreach { s =>
          adds.foreach { rel =>
            val to = new org.apache.hadoop.fs.Path(root, rel)
            fs.mkdirs(to.getParent)
            require(fs.rename(new org.apache.hadoop.fs.Path(s, rel), to),
              s"failed to move staged file $rel into $path")
          }
        }
        val now = System.currentTimeMillis()
        publish(fs, Manifest(base.version + 1,
          base.files.filterNot(drops.contains) ++ adds,
          base.dropped ++ drops.toSeq.sorted.map(_ -> now)))
        invalidate()
      }
      ok
    }
    stage.foreach(fs.delete(_, true))
    ok
  }

  /** Write `df` (canonical columns plus [[BucketCol]]) with the Spark
    * writer into a fresh hidden staging directory, partitioned like the
    * log, and commit the files it wrote (minus `drops`). */
  private def writeAndCommit(df: DataFrame,
      drops: Set[String] = Set.empty): Boolean = {
    val fs = fileSystem
    current(fs) // migrate a pre-manifest log before adding files to it
    val stage = new org.apache.hadoop.fs.Path(root,
      StagingPrefix + java.util.UUID.randomUUID())
    // sort by (bucket, ts): satisfies the file writer's required
    // partition-column ordering (so it adds no extra sort of its own)
    // while keeping segments ts-ordered like the reference (:222)
    df.sortWithinPartitions(BucketCol, "timestamp")
      .write
      .option("compression", compression)
      // dictionary encoding off: subject/object are high-cardinality,
      // so per-file dicts build to the page cap and fall back — pure
      // encode-CPU waste (~14% of write wall); low-card columns still
      // compress via lz4 on the plain-encoded pages
      .option("parquet.enable.dictionary", "false")
      .partitionBy(BucketCol)
      .parquet(stage.toString)
    val adds = fs.listStatus(stage).toSeq
      .filter(_.getPath.getName.startsWith(s"$BucketCol="))
      .flatMap(d => fs.listStatus(d.getPath).toSeq.map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).sorted
        .map(n => s"${d.getPath.getName}/$n"))
    commit(fs, adds, drops, Some(stage))
  }

  /** Version 0 of a log written before the manifest existed, resolved
    * by the listing rule of that format: per bucket directory, the
    * plain visible parquet files plus the `cdata-` files a committed
    * `_compact-` marker adds, minus the files any marker drops; a
    * bucket left only as `.compact-old-<bucket>` by a crash inside an
    * older compaction is restored first. The only reader of markers;
    * what this rule does not admit is swept by [[vacuum]]. */
  private def migrate(fs: org.apache.hadoop.fs.FileSystem): Manifest = {
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(".compact-old-")) {
        val bucketDir = new org.apache.hadoop.fs.Path(
          root, name.stripPrefix(".compact-old-"))
        if (!fs.exists(bucketDir)) fs.rename(st.getPath, bucketDir)
        else fs.delete(st.getPath, true)
      } else if (name.startsWith(".compact-tmp-") ||
          name.startsWith(".compact-stage-")) {
        fs.delete(st.getPath, true)
      }
    }
    def visible(n: String) = !(n.startsWith(".") || n.startsWith("_"))
    val files = fs.listStatus(root).toVector.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && visible(n)) {
        val entries = fs.listStatus(st.getPath).toVector
          .filter(_.isFile).map(_.getPath)
        val markers = entries.filter(p =>
          p.getName.startsWith(CompactMarkerPrefix) &&
            p.getName.endsWith(".json"))
        val json = markers.map(readText(fs, _))
        val adds = json.flatMap(listIn(_, "add")).toSet
        val drops = json.flatMap(listIn(_, "drop")).toSet
        entries.map(_.getName).filter(f => f.endsWith(".parquet") &&
            visible(f) && !drops.contains(f) &&
            (!f.startsWith("cdata-") || adds.contains(f)))
          .sorted.map(f => s"$n/$f")
      } else if (st.isFile && n.endsWith(".parquet") && visible(n))
        Vector(n) // flat files at the root (non-partitioned writes)
      else Vector.empty
    }
    val m = Manifest(0L, files, Vector.empty)
    writeManifest(fs, m)
    m
  }

  private def invalidate(): Unit = synchronized {
    cachedTable = None
    cachedIndex = None
  }

  @transient private var appendsSinceCompactCheck = 0

  /** Amortized auto-compaction hook — runs on the appending thread at
    * the end of `append`/`appendBulk`, every [[autoCompactEvery]]
    * appends. Same single-writer assumption as append itself; readers
    * see either the pre- or post-compaction version (identical rows). */
  private def maybeAutoCompact(): Unit = {
    if (autoCompactFiles > 0) {
      val due = synchronized {
        appendsSinceCompactCheck += 1
        if (appendsSinceCompactCheck >= autoCompactEvery) {
          appendsSinceCompactCheck = 0
          true
        } else false
      }
      if (due) compact(maxFilesPerBucket = autoCompactFiles)
    }
  }

  /** Floor-division bucket id as a SQL expression. SQL `div` truncates
    * toward zero, which would disagree with `query()`'s
    * `math.floorDiv` range arithmetic on NEGATIVE timestamps
    * (pre-1970 data would land in a bucket the query prunes away). */
  private def bucketExpr =
    expr(s"(timestamp - pmod(timestamp, ${bucketMs}L)) div ${bucketMs}L")

  /** Append a canonical quads DataFrame (timestamp, subject, predicate,
    * object, graph). Equivalent of `write_rdf` + background flush
    * (`segmented_storage.rs:478-657`): the manifest commit IS the flush.
    *
    * Two write paths, picked by the input's optimized plan alone:
    *
    *   - DRIVER-RESIDENT input — a `LocalRelation` holding exactly the
    *     five canonical columns (every [[graft.core.RdfEvent.toDF]]
    *     batch: the API's live events, `ReplayBus` flushes) — is
    *     already on the driver, so a Spark write job (plan, one task,
    *     commit protocol: ~170 ms for a 200-quad batch) would only move
    *     it back to the driver's own disk. It is written in-process
    *     instead, one ts-sorted parquet file per touched bucket, with
    *     no Spark job ([[appendLocal]]).
    *   - DISTRIBUTED input (`foreachBatch` frames, streaming sinks,
    *     anything that is not a local relation) takes the Spark writer,
    *     the only path that can reach rows on executors.
    *
    * Both produce the same layout — `ts_bucket=<b>/` directories of
    * ts-sorted parquet files with the log's compression and dictionary
    * encoding off — so readers, the point index and compaction cannot
    * tell the paths apart, and both publish the whole batch in one
    * manifest commit. For backfills spanning many buckets use
    * [[appendBulk]].
    */
  def append(quads: DataFrame): Unit = localQuads(quads) match {
    case Some(batch) => appendLocal(batch)
    case None =>
      appendDistributed(quads)
      maybeAutoCompact()
  }

  /** The Spark-writer append (distributed inputs). Tuned for the
    * streaming case: a micro-batch is time-local and touches 1–2 bucket
    * directories, so the dynamic-partition writer opens few files. */
  private def appendDistributed(quads: DataFrame): Unit = {
    // live micro-batches are small but often arrive spread over many
    // upstream partitions (a foreachBatch slice keeps its parent's 32);
    // each task then opens a writer per bucket dir it touches, and the
    // driver-side commit cost is ∝ files — ~100 tiny files per
    // day-spanning micro-batch, measured ~40% of the live path's
    // per-chunk append wall. Cap the writer fan-out for SMALL batches
    // (by plan stats — no job), but leave a genuinely large catch-up
    // batch at its full width: 8 tasks encoding a 36 M-row backlog
    // would trade commit overhead for a 4× encode stall. Bulk loads
    // take [[appendBulk]], which levels buckets across the cluster.
    // An input planned at most that wide is left alone: Catalyst would
    // merge a coalesce with the input's own narrower one into the WIDER
    // count (a caller's coalesce(1) became coalesce(8), one batch up to
    // one file per core). 0 means the plan does not fix a count (a file
    // scan): the cap applies.
    val planned = quads.queryExecution.sparkPlan.outputPartitioning
      .numPartitions
    val small = quads.queryExecution.optimizedPlan.stats.sizeInBytes <=
      EventLog.AppendCoalesceBytes
    val cap = small && (planned == 0 || planned > EventLog.AppendMaxTasks)
    writeAndCommit((if (cap) quads.coalesce(EventLog.AppendMaxTasks)
      else quads).withColumn(BucketCol, bucketExpr))
  }

  /** Append a driver-resident batch (see [[append]] and
    * [[EventLog.localQuads]]) without a Spark job: group by bucket,
    * sort each group by timestamp, write one parquet file per bucket
    * with Spark's own parquet output writer — set up by the same
    * `ParquetUtils.prepareWrite` a Spark write task uses, so schema,
    * footer and codec are the ones Spark writes.
    *
    * Each file is written straight to its final name; all of them are
    * published by one manifest commit after every writer closed, so a
    * reader sees the whole batch or none of it. A failed write deletes
    * every file of the batch, so a failed append leaves no row visible
    * and the caller may retry it; a crash before the commit leaves
    * files no manifest names, which [[compact]] sweeps once they are
    * older than the grace period. */
  private[graft] def appendLocal(batch: LocalQuads): Unit = {
    val sqlConf = spark.sessionState.conf
    // the options of every Spark write of the log (see writeAndCommit)
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConfWithOptions(
        Map("parquet.enable.dictionary" -> "false")))
    val factory = org.apache.spark.sql.execution.datasources.parquet
      .ParquetUtils.prepareWrite(sqlConf, job, batch.schema,
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetOptions(Map("compression" -> compression), sqlConf))
    val task = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      job.getConfiguration, new org.apache.hadoop.mapreduce.TaskAttemptID(
        "graft-append", 0, org.apache.hadoop.mapreduce.TaskType.MAP, 0, 0))
    val fs = root.getFileSystem(job.getConfiguration)
    current(fs) // migrate a pre-manifest log before adding files to it
    val ext = factory.getFileExtension(task)
    val written = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      batch.rows.groupBy(r => math.floorDiv(r.getLong(0), bucketMs))
        .toSeq.sortBy(_._1).foreach { case (bucket, rows) =>
          val rel = s"$BucketCol=$bucket/part-00000-" +
            s"${java.util.UUID.randomUUID()}.c000$ext"
          written += rel
          val writer = factory.newInstance(
            new org.apache.hadoop.fs.Path(root, rel).toString,
            batch.schema, task)
          try rows.sortBy(_.getLong(0)).foreach(writer.write)
          finally writer.close()
        }
    } catch {
      case t: Throwable =>
        written.foreach(r =>
          fs.delete(new org.apache.hadoop.fs.Path(root, r), false))
        throw t
    }
    commit(fs, written.toSeq)
    maybeAutoCompact()
  }

  /** Backfill append for inputs spanning many buckets: hash-repartition
    * on the bucket id so each task writes into few bucket directories
    * (no per-task writer churn across dirs, and no range-sampling pass
    * over the input — measured ~2× faster than a range repartition at
    * 1.2 M quads).
    *
    * `splitsPerBucket` > 1 salts the shuffle key so one bucket spreads
    * over several tasks. The default (0 = auto) estimates the bucket
    * count from a timestamp-only min/max pass and salts just enough
    * that every task carries work: hashing B bucket ids into P tasks
    * with B ≲ P (the common backfill — 30 day-buckets on 32 cores)
    * leaves ~P/e tasks empty and the stragglers carrying 2-3 whole
    * buckets, a measured ~2.5× wall-clock loss vs a level write.
    * Salting to ~2 keys per task levels it at the cost of
    * `splits` files per bucket (compaction folds them later). Pass an
    * explicit value to skip the estimation pass.
    *
    * The estimation pass is itself a Spark job, and for a small input
    * its fixed scheduling cost (~0.2 s on local[32]) rivals the write
    * it is trying to level — so below [[EventLog.AutoEstimateBytes]]
    * (plan-stats estimate, driver-side free) auto mode skips it and
    * salts with a fixed 2. Worst case for that shortcut is every row
    * in ONE bucket → a 2-task write, bounded by the threshold; above
    * it the exact pass runs and is amortized by the big write. */
  def appendBulk(quads: DataFrame, parallelism: Int,
      splitsPerBucket: Int = 0): Unit = {
    val splits =
      if (splitsPerBucket > 0) splitsPerBucket
      else if (quads.queryExecution.optimizedPlan.stats.sizeInBytes <=
          EventLog.AutoEstimateBytes) 2
      else {
        val r = quads.agg(min("timestamp"), max("timestamp")).head()
        if (r.isNullAt(0)) 1
        else {
          val nBuckets = math.floorDiv(r.getLong(1), bucketMs) -
            math.floorDiv(r.getLong(0), bucketMs) + 1L
          math.max(1L, math.min(parallelism.toLong,
            math.ceil(parallelism * 2.0 / nBuckets).toLong)).toInt
        }
      }
    // repartition on EXPRESSIONS, then derive the bucket column after
    // the exchange: routing evaluates map-side only, so the shuffled
    // row payload stays the bare 5-column quad (the bucket long is
    // recomputed post-shuffle by codegen, ~8% less shuffle volume)
    writeAndCommit(
      (if (splits <= 1)
        quads.repartition(parallelism, bucketExpr)
      else
        quads.repartition(parallelism, bucketExpr,
          pmod(xxhash64(col("timestamp")), lit(splits))))
        .withColumn(BucketCol, bucketExpr))
    maybeAutoCompact()
  }

  /** Full log scan (no pruning) — canonical 5-column shape. */
  def read(): DataFrame =
    table.select("timestamp", "subject", "predicate", "object", "graph")

  /** Time-range read path (S8): inclusive `[start, end]`, exactly the
    * reference's `storage.query(start, end)` contract
    * (`segmented_storage.rs:308-463`; inclusive bounds per the
    * partition_point ≥ start / early-exit ts > end scan). Filters on the
    * partition column first so whole bucket directories are pruned
    * before any footer is read. */
  def query(start: Long, end: Long): DataFrame = {
    val lo = math.floorDiv(start, bucketMs)
    val hi = math.floorDiv(end, bucketMs)
    table
      .where(col(BucketCol).between(lo, hi))
      .where(col("timestamp").between(start, end))
      .select("timestamp", "subject", "predicate", "object", "graph")
  }

  // ---- point-lookup fast path -----------------------------------------

  /** Driver-side sparse time index: one entry per live data file — its
    * status and (minTs, maxTs) span — in minTs order, for the manifest
    * version the table reader binds to; the direct analogue of the
    * reference's in-memory two-level index
    * (`segmented_storage.rs:117-163`; a few bytes per segment there, a
    * few bytes per file here). Data files are immutable, so a file's
    * footer is read once: after a commit, only the files it added are
    * read ([[footers]] keeps every live file's entry across commits). */
  @transient private var cachedIndex: Option[Vector[EventLog.IndexedFile]] =
    None

  /** Every live file's index entry by path (None: a file without rows). */
  @transient private var footers =
    Map.empty[String, Option[EventLog.IndexedFile]]

  private def fileIndex: Vector[EventLog.IndexedFile] = synchronized {
    cachedIndex.getOrElse {
      val fs = fileSystem
      // the SAME manifest version the table reader binds to — pointQuery
      // and the live fire scan must never diverge from query() on which
      // files are live
      val live = liveFiles().map(f =>
        f.toString -> footers.getOrElse(f.toString, readFooter(fs, f)))
      footers = live.toMap
      val idx = live.flatMap(_._2).sortBy(_.span.minTs)
      cachedIndex = Some(idx)
      idx
    }
  }

  private def readFooter(fs: org.apache.hadoop.fs.FileSystem,
      file: org.apache.hadoop.fs.Path): Option[EventLog.IndexedFile] = {
    val status = fs.getFileStatus(file)
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status,
        spark.sparkContext.hadoopConfiguration))
    try {
      var lo = Long.MaxValue
      var hi = Long.MinValue
      rdr.getFooter.getBlocks.forEach { block =>
        block.getColumns.forEach { c =>
          if (c.getPath.toDotString == "timestamp") {
            val stats = c.getStatistics
            if (stats != null && !stats.isEmpty) {
              lo = math.min(lo,
                stats.genericGetMin.asInstanceOf[java.lang.Long])
              hi = math.max(hi,
                stats.genericGetMax.asInstanceOf[java.lang.Long])
            }
          }
        }
      }
      if (lo <= hi) Some(EventLog.IndexedFile(status,
        EventLog.FileSpan(file.toString, lo, hi)))
      else None
    } finally rdr.close()
  }

  /** The live data files whose rows can fall in `[start, end]`
    * (inclusive), picked on the driver from the per-file ts index: no
    * listing, no job, and no time bound in the plan that scans them. */
  private[graft] def filesBetween(start: Long, end: Long)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    fileIndex.collect {
      case f if f.span.minTs <= end && f.span.maxTs >= start => f.status
    }

  /** A scan relation over exactly `files`, in the five canonical
    * columns (no partition column). Its file list is the relation's
    * only input, so a plan built over it can be pointed at another
    * file list by swapping the relation — which the live engine does at
    * every fire (see [[graft.streaming.CompiledLiveStream]]). */
  private[graft] def scanOf(files: Seq[org.apache.hadoop.fs.FileStatus])
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation =
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      new EventLog.FileList(files),
      partitionSchema = org.apache.spark.sql.types.StructType(Nil),
      dataSchema = DataSchema, bucketSpec = None,
      fileFormat = new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat,
      options = Map.empty)(spark)

  /** Bounded LRU of fully-decoded data files for the point-lookup path —
    * the analogue of the reference's in-memory segments (its 0.235 ms
    * point query binary-searches RAM-resident records;
    * `segmented_storage.rs:308-380`). Parquet data files are IMMUTABLE
    * (appends only add files), so entries never go stale; eviction keeps
    * the footprint to the hottest [[EventLog.PointCacheFiles]] files.
    * Rows are ts-sorted at decode for binary search. */
  @transient private lazy val rowCache =
    new java.util.LinkedHashMap[String, Array[graft.core.RdfEvent]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Array[graft.core.RdfEvent]])
          : Boolean = size > EventLog.PointCacheFiles
    }

  private def decodedFile(filePath: String): Array[graft.core.RdfEvent] =
    synchronized {
      val hit = rowCache.get(filePath)
      if (hit != null) hit
      else {
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
            new org.apache.hadoop.fs.Path(filePath))
          .withConf(spark.sparkContext.hadoopConfiguration)
          .build()
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[graft.core.RdfEvent]
        try {
          var g = reader.read()
          // an absent optional value is a null term
          def str(field: String): String =
            if (g.getFieldRepetitionCount(field) == 0) null
            else g.getString(field, 0)
          while (g != null) {
            buf += graft.core.RdfEvent(
              g.getLong("timestamp", 0),
              str("subject"), str("predicate"), str("object"), str("graph"))
            g = reader.read()
          }
        } finally reader.close()
        val arr = buf.toArray.sortBy(_.timestamp)
        rowCache.put(filePath, arr)
        arr
      }
    }

  /** Point/short-range lookup WITHOUT a Spark job. A distributed scan
    * pays a fixed ~50 ms of job scheduling — three orders of magnitude
    * over the reference's 0.235 ms indexed lookup. This path serves the
    * same contract the reference's point query does (`query(ts,ts)` over
    * the in-process index): binary-search the driver-side file index,
    * decode only overlapping files (cached — see [[rowCache]]), then
    * binary-search the ts-sorted rows. Steady-state lookups touch no
    * I/O at all, matching the reference's RAM-resident design; use
    * [[query]] for anything that should scan distributed.
    *
    * Scale: the index is per-file metadata (fine at millions of files);
    * a lookup decodes at most the files whose stats contain the range —
    * on a ts-bucketed log that is one file generation. */
  def pointQuery(start: Long, end: Long,
      limit: Int = Int.MaxValue): Seq[graft.core.RdfEvent] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[graft.core.RdfEvent]
    // Files in minTs order. Micro-batch files within a bucket can
    // overlap in ts, so a naive per-file early exit would truncate with
    // first-file bias — instead, once `limit` rows are held, the
    // running result is sorted+truncated and its worst (limit-th
    // smallest) timestamp becomes the cutoff: any later file whose
    // minTs exceeds it cannot contribute, so a wide range with a small
    // limit stops after a handful of decodes instead of buffering the
    // whole range (the reference's segment scan merges ts-sorted;
    // `segmented_storage.rs:308-463`).
    val files = fileIndex.map(_.span)
      .filter(f => f.minTs <= end && f.maxTs >= start)
    var cutoff = Long.MaxValue
    var i = 0
    while (i < files.length &&
        !(out.length >= limit && files(i).minTs > cutoff)) {
      val arr = decodedFile(files(i).path)
      // lower bound: first index with ts >= start
      var lo = 0
      var hi = arr.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (arr(mid).timestamp < start) lo = mid + 1 else hi = mid
      }
      while (lo < arr.length && arr(lo).timestamp <= end) {
        out += arr(lo)
        lo += 1
      }
      if (limit != Int.MaxValue && out.length >= limit) {
        out.sortInPlaceBy(_.timestamp)
        out.takeInPlace(limit)
        cutoff = out.last.timestamp
      }
      i += 1
    }
    out.sortInPlaceBy(_.timestamp).toSeq
  }

  /** Hadoop-FS existence check (works for HDFS/S3 paths, not just
    * local files). */
  def exists: Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Compact bucket directories that have accumulated more than
    * `maxFilesPerBucket` live data files into `filesPerBucket`
    * ts-sorted files. Streaming appends write one file per micro-batch
    * per bucket (the reference's per-flush segments,
    * `segmented_storage.rs:478-657`); left alone, a long-running
    * stream leaves thousands of small files per bucket — large
    * manifests, weak row-group stats, tiny scan tasks. Compaction is
    * the log-structured answer: rewrite cold buckets into few large
    * ts-ordered files (tight stats → hard pruning).
    *
    * SNAPSHOT-ISOLATED for concurrent readers: each bucket's rewrite is
    * staged and committed as one manifest version that adds the new
    * files and drops the old ones (see the manifest doc above). No live
    * file is ever renamed or deleted in place — superseded files are
    * vacuumed only by a LATER compact() call once they were dropped
    * more than `graceMs` ago ([[vacuum]]), so a reader
    * planned at any instant (or still executing within the grace) sees
    * exactly the pre- or post-compaction row set. Single-writer
    * assumption (same as append). Returns the number of buckets
    * compacted. */
  def compact(maxFilesPerBucket: Int = 8, filesPerBucket: Int = 1,
      graceMs: Long = EventLog.DefaultCompactionGraceMs): Int = {
    val fs = fileSystem
    if (!fs.exists(root)) return 0
    vacuum(fs, graceMs)
    val compacted = latest(fs).files.groupBy(_.takeWhile(_ != '/'))
      .toSeq.sortBy(_._1).count { case (_, live) =>
        live.size > maxFilesPerBucket && writeAndCommit(
          spark.read.schema(LogSchema).option("basePath", path)
            .parquet(live.map(new org.apache.hadoop.fs.Path(root, _)
              .toString): _*)
            .repartition(filesPerBucket),
          drops = live.toSet)
      }
    if (compacted > 0) synchronized(rowCache.clear())
    compacted
  }

  /** Delete what no reader can still need, by the grace rule that
    * protects in-flight readers: a dropped file once it was dropped
    * more than `graceMs` ago (the latest version stops listing it, then
    * the file goes), and a data file, manifest temporary or staging
    * directory that the latest version does not name, once it is itself
    * older than `graceMs` (a write that died before its commit). */
  private def vacuum(fs: org.apache.hadoop.fs.FileSystem,
      graceMs: Long): Unit = synchronized {
    val cutoff = System.currentTimeMillis() - graceMs
    val base = latest(fs)
    val kept = base.dropped.filter(_._2 > cutoff)
    val m =
      if (kept.size == base.dropped.size) base
      else publish(fs, base.copy(version = base.version + 1, dropped = kept))
    val named = m.files.toSet ++ m.dropped.map(_._1)
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (manifestVersion(n).exists(_ < m.version))
        fs.delete(st.getPath, false)
      else if ((n.startsWith(ManifestTempPrefix) ||
          n.startsWith(StagingPrefix)) && st.getModificationTime <= cutoff)
        fs.delete(st.getPath, true)
      else if (st.isDirectory && n.startsWith(s"$BucketCol="))
        fs.listStatus(st.getPath).foreach { f =>
          if (f.isFile && f.getModificationTime <= cutoff &&
              !named.contains(s"$n/${f.getPath.getName}"))
            fs.delete(f.getPath, false)
        }
    }
  }

  /** Drop whole bucket directories that end at or before `ts` —
    * retention for live windows (nothing below the fire horizon can
    * enter any future snapshot). The removal is committed first, then
    * the directories are deleted: one manifest commit plus one cheap
    * namespace operation per expired bucket regardless of row volume.
    * Returns the number of buckets dropped. */
  def pruneBefore(ts: Long): Int = {
    val fs = fileSystem
    if (!fs.exists(root)) return 0
    val prefix = s"$BucketCol="
    val expired = fs.listStatus(root).toSeq.map(_.getPath).filter { p =>
      p.getName.startsWith(prefix) &&
        (p.getName.stripPrefix(prefix).toLong + 1L) * bucketMs <= ts
    }
    if (expired.nonEmpty) {
      val names = expired.map(_.getName + "/").toSet
      def gone(f: String) = names.contains(f.take(f.indexOf('/') + 1))
      // read and commit under one lock: a compaction of an expired
      // bucket that committed first has its output dropped here, and
      // one that commits later finds its drops gone and is abandoned
      synchronized {
        val base = latest(fs)
        publish(fs, Manifest(base.version + 1, base.files.filterNot(gone),
          base.dropped.filterNot(d => gone(d._1))))
        invalidate()
      }
      expired.foreach(fs.delete(_, true))
      // deleted files can never be looked up again (the rebuilt index
      // excludes them) — release their decoded rows eagerly
      synchronized(rowCache.clear())
    }
    expired.size
  }
}

object EventLog {
  val BucketCol = "ts_bucket"

  /** Filename prefix of the pre-manifest format's per-bucket
    * compaction markers (`_compact-<ms>-<gen>.json`, an `add` and a
    * `drop` file list); read only when such a log is migrated. */
  val CompactMarkerPrefix = "_compact-"

  /** Filename prefix of a committed manifest version at the log root
    * (`_manifest-<zero-padded version>.json`) — `_`-hidden, so no
    * directory read of the log admits it. */
  val ManifestPrefix = "_manifest-"

  /** Prefix of a manifest version's hidden temporary name until the
    * rename commits it. */
  private val ManifestTempPrefix = ".manifest-"

  /** Prefix of the hidden root-level directory a Spark write fills
    * before its files are moved into their buckets and committed. */
  private val StagingPrefix = ".staging-"

  /** One committed version: the live data files, and the files a
    * compaction dropped with their drop time (epoch ms) until the grace
    * has passed, all relative to the root. */
  private final case class Manifest(version: Long, files: Vector[String],
      dropped: Vector[(String, Long)])

  private def manifestVersion(name: String): Option[Long] =
    if (name.startsWith(ManifestPrefix) && name.endsWith(".json"))
      name.slice(ManifestPrefix.length, name.length - 5).toLongOption
    else None

  private def readText(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The body between `open` and `close` of the JSON value under `key`. */
  private def valueOf(json: String, key: String, open: Char,
      close: Char): String = {
    val m = java.util.regex.Pattern.compile(
      s""""$key"\\s*:\\s*\\$open(.*?)\\$close""",
      java.util.regex.Pattern.DOTALL).matcher(json)
    if (m.find()) m.group(1) else ""
  }

  /** The string list under `key` in a manifest or marker file. */
  private def listIn(json: String, key: String): Seq[String] =
    valueOf(json, key, '[', ']').split(",").toSeq
      .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)

  /** How long a file a compaction dropped stays on disk after the drop
    * by default — the window an in-flight reader's captured file list
    * stays fully readable. Vacuumed by the NEXT compact() call after
    * expiry, so disk amplification is bounded by the data files that
    * compactions dropped in one grace window; the log root holds one
    * manifest version. */
  val DefaultCompactionGraceMs: Long = 15L * 60L * 1000L

  /** Inputs whose plan-stats size is at or under this skip the
    * bucket-count estimation job in [[EventLog.appendBulk]] auto mode
    * and salt with a fixed 2 (see its doc for the tradeoff). */
  val AutoEstimateBytes: Long = 1L << 30

  /** Writer fan-out cap for the micro-batch [[EventLog.append]] path:
    * tasks × touched-buckets files per append, committed one by one on
    * the driver. 8 tasks keep a small batch's file count (and commit
    * wall) bounded while still spreading encode CPU; bulk loads use
    * [[EventLog.appendBulk]]'s bucket-salted repartition instead. */
  val AppendMaxTasks: Int = 8

  /** Plan-stats size under which [[EventLog.append]] applies the
    * [[AppendMaxTasks]] coalesce — above it, commit overhead is no
    * longer the bottleneck and narrowing would stall the encode. */
  val AppendCoalesceBytes: Long = 256L << 20

  /** One data file's ts span in the driver-side sparse index. */
  final case class FileSpan(path: String, minTs: Long, maxTs: Long)

  /** A sparse-index entry: the file's status (for scans) and ts span. */
  private final case class IndexedFile(
      status: org.apache.hadoop.fs.FileStatus, span: FileSpan)

  /** A fixed file list as a Spark file index: what [[EventLog.scanOf]]
    * reads. Listing is the list itself; no partition values. */
  private final class FileList(files: Seq[org.apache.hadoop.fs.FileStatus])
      extends org.apache.spark.sql.execution.datasources.FileIndex {
    def rootPaths: Seq[org.apache.hadoop.fs.Path] = files.map(_.getPath)
    def listFiles(
        partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions
          .Expression],
        dataFilters: Seq[org.apache.spark.sql.catalyst.expressions
          .Expression])
        : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] =
      Seq(org.apache.spark.sql.execution.datasources.PartitionDirectory(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        files.map(org.apache.spark.sql.execution.datasources
          .FileStatusWithMetadata(_))))
    def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = files.map(_.getLen).sum
    def partitionSchema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType(Nil)
  }

  /** Max decoded files held by the point-lookup row cache. Bounds driver
    * memory to ~(files × rows-per-file × record size); at 100 TB the
    * point-serving layer holds only the hottest segments, exactly like
    * the reference's RAM-resident recent segments. */
  val PointCacheFiles = 8

  /** A driver-resident canonical batch: its rows in canonical column
    * order (timestamp, subject, predicate, object, graph), and the data
    * schema the Spark writer would give its file — [[DataSchema]] with
    * the input's nullability (Spark keeps an input's nullability; a
    * column holding a null is nullable whatever the plan says). */
  final case class LocalQuads(
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType) {

    /** Latest timestamp of the batch's rows in `graph`, if any. */
    def maxTimestamp(graph: String): Option[Long] = {
      val g = org.apache.spark.unsafe.types.UTF8String.fromString(graph)
      rows.iterator.filter(r => !r.isNullAt(4) && r.getUTF8String(4) == g)
        .map(_.getLong(0)).maxOption
    }
  }

  /** The rows of a DRIVER-RESIDENT canonical batch, or None. A batch is
    * driver-resident when its optimized plan is a `LocalRelation` whose
    * output is exactly the five canonical columns (any order) with no
    * null timestamp — what [[graft.core.RdfEvent.toDF]] builds. Plan
    * inspection only: no Spark job, and the rows are the ones the plan
    * already holds. */
  def localQuads(df: DataFrame): Option[LocalQuads] =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if l.output.size == graft.core.RdfEvent.schema.size =>
        // column positions in canonical (RdfEvent.schema) order
        val fields = graft.core.RdfEvent.schema.fields.toSeq
        val ord = fields.map(f => l.output.indexWhere(a =>
          a.name == f.name && a.dataType == f.dataType))
        if (ord.contains(-1) || l.data.exists(_.isNullAt(ord.head))) None
        else {
          val rows = l.data.map(r =>
            org.apache.spark.sql.catalyst.InternalRow.fromSeq(
              ord.zip(fields).map { case (i, f) => r.get(i, f.dataType) }))
          val schema = org.apache.spark.sql.types.StructType(
            DataSchema.fields.zip(ord).map { case (f, i) =>
              f.copy(nullable = l.output(i).nullable ||
                l.data.exists(_.isNullAt(i)))
            })
          Some(LocalQuads(rows, schema))
        }
      case _ => None
    }

  /** Log schema, partition column last. Passing it to the reader skips
    * per-query schema inference (one footer read + listing job). */
  val LogSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("timestamp",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("subject",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("predicate",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("object",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("graph",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(BucketCol,
        org.apache.spark.sql.types.LongType)))

  /** Schema of a data file: [[LogSchema]] without the partition column. */
  val DataSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      LogSchema.fields.filterNot(_.name == BucketCol))
}
