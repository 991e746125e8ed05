package graft.storage

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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
  *   - segment discovery    → Parquet directory listing (free)
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
    * re-lists the directory tree and re-infers the schema — pure
    * overhead on a hot read path (the reference amortizes its segment
    * index the same way). Invalidated on every append. */
  @transient private var cachedTable: Option[DataFrame] = None

  private def table: DataFrame = synchronized {
    cachedTable.getOrElse {
      // a log that has never been appended to reads as EMPTY (the
      // reference's fresh storage dir), not as a PATH_NOT_FOUND error;
      // the cache is invalidated on append, so the first write upgrades
      // the reader to the real directory.
      //
      // The reader binds to an EXPLICIT marker-resolved file snapshot
      // (not the directory): visibility of compacted generations flips
      // atomically with the marker rename, and superseded files outlive
      // in-flight plans by the compaction grace — so a reader planned
      // at ANY instant sees exactly the pre- or post-compaction row
      // set, never a partial one, and never a dead path
      // (ConcurrentCompactionSpec stress-proves it).
      val files = visibleDataFiles().map(_.getPath.toString)
      val df =
        if (files.isEmpty) spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], LogSchema)
        else spark.read.schema(LogSchema).option("basePath", path)
          .parquet(files: _*)
      cachedTable = Some(df)
      df
    }
  }

  // ---- compaction-aware file visibility ---------------------------------
  //
  // Compaction never renames or deletes a LIVE file in place. A bucket
  // rewrite stages its output, moves it to stable HIDDEN names
  // (`cdata-<gen>-N.parquet`, admitted only via a committed marker),
  // then commits by atomically renaming ONE tombstone marker
  // (`_compact-<millis>-<gen>.json`) into the bucket. The marker both
  // reveals its `add` files and tombstones its `drop` files, so a
  // single atomic namespace operation flips the whole generation;
  // dropped files stay on disk until a later compact() vacuums them
  // past the grace period, keeping every path captured by an in-flight
  // reader alive. (The same idea as a transaction-log table format,
  // reduced to one self-contained marker per bucket generation —
  // single-writer, so no concurrent-commit arbitration is needed.)

  private def parseMarkerList(json: String, key: String): Seq[String] = {
    val m = java.util.regex.Pattern
      .compile("\"" + key + "\"\\s*:\\s*\\[(.*?)\\]",
        java.util.regex.Pattern.DOTALL)
      .matcher(json)
    if (!m.find()) Nil
    else m.group(1).split(",").toSeq.map(_.trim.stripPrefix("\"")
      .stripSuffix("\"")).filter(_.nonEmpty)
  }

  private def readMarker(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): (Seq[String], Seq[String]) = {
    val in = fs.open(p)
    val json =
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    (parseMarkerList(json, "add"), parseMarkerList(json, "drop"))
  }

  /** Marker-resolved visible data files of ONE directory: plain visible
    * parquet files, plus marker-gated `cdata-*` files revealed by a marker,
    * minus every marker-dropped name.
    *
    * The marker rename is atomic, but `listStatus` is NOT an atomic
    * directory snapshot: a listing that starts before a compaction
    * commit can pass the namespace position where a `cdata-` file will
    * land, then enumerate the marker entry after the commit — observing
    * the marker (which tombstones the old generation) while missing
    * part of the generation it reveals. [[visibleFilesInOnce]] detects
    * that tear (every `add` of a recognized marker must be present in
    * the SAME listing) and throws; this wrapper re-lists, bounded. */
  private def visibleFilesIn(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    // two transient races surface as FileNotFoundException here: a
    // marker vacuumed by a concurrent compact between our listStatus
    // and open, and a torn listing (marker seen, add file unseen —
    // see visibleFilesInOnce). Both heal on a fresh listing; bounded,
    // because each retry means another compaction event landed
    // mid-listing (never sustained in practice)
    var attempt = 0
    while (true) {
      try return visibleFilesInOnce(fs, dir)
      catch {
        case _: java.io.FileNotFoundException if attempt < 8 =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Test seam: lets a spec deterministically inject an inconsistent
    * listing (e.g. one that observes a compaction marker but not all of
    * its `add` files — the torn-read interleaving a real scan can only
    * hit in a narrow window). Production code never sets this. */
  @transient private[storage] var listingSeam
      : (org.apache.hadoop.fs.Path, Array[org.apache.hadoop.fs.FileStatus])
        => Array[org.apache.hadoop.fs.FileStatus] = null

  /** One listing + marker resolution; throws FileNotFoundException if
    * (a) a concurrent compact() vacuums a grace-expired marker between
    * our listStatus and open, or (b) the listing is TORN — it contains
    * a marker but not every `add` file that marker reveals (listStatus
    * enumerates the namespace non-atomically, so a scan racing a
    * compaction commit can see the marker entry while having already
    * passed the position where a `cdata-` file landed). Serving such a
    * listing would tombstone the old generation while exposing only
    * part of the new one — a torn row set. [[visibleFilesIn]] re-lists
    * on both. */
  private def visibleFilesInOnce(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val entries = {
      val raw = fs.listStatus(dir)
      if (listingSeam eq null) raw else listingSeam(dir, raw)
    }
    val adds = scala.collection.mutable.HashSet.empty[String]
    val drops = scala.collection.mutable.HashSet.empty[String]
    entries.foreach { e =>
      val n = e.getPath.getName
      if (e.isFile && n.startsWith(EventLog.CompactMarkerPrefix) &&
          n.endsWith(".json")) {
        val (a, d) = readMarker(fs, e.getPath)
        adds ++= a; drops ++= d
      }
    }
    // torn-listing guard: every add a marker reveals must appear in
    // THIS listing. An add absent from the listing is benign only if
    // the file is genuinely gone from disk (vacuumed by a newer
    // generation — possibly one whose own marker was vacuumed in the
    // same pass, so the drops set alone cannot prove it); a marker's
    // adds are renamed to their stable names BEFORE the marker
    // commits, and cdata names embed a fresh generation id (never
    // reused), so add-on-disk + add-not-in-listing can ONLY mean the
    // listing raced the commit and missed the file — re-list.
    if (adds.nonEmpty) {
      val names = entries.iterator.map(_.getPath.getName).toSet
      adds.iterator
        .filterNot(names.contains).filterNot(drops.contains)
        .foreach { a =>
          if (fs.exists(new org.apache.hadoop.fs.Path(dir, a)))
            throw new java.io.FileNotFoundException(
              s"torn listing of $dir: marker reveals add file '$a' " +
                "that is on disk but absent from the listing — re-list")
        }
    }
    entries.toSeq.filter { e =>
      val n = e.getPath.getName
      e.isFile && n.endsWith(".parquet") && !drops.contains(n) && {
        // compaction data files carry a NON-hidden `cdata-` prefix
        // (Spark's parquet source refuses '.'/'_'-prefixed files even
        // as explicit inputs) and are admitted ONLY via a committed
        // marker — an interrupted compaction's uncommitted output
        // stays invisible; everything else follows the plain rule
        if (n.startsWith(EventLog.CompactDataPrefix)) adds.contains(n)
        else !(n.startsWith(".") || n.startsWith("_"))
      }
    }
  }

  /** Marker-resolved snapshot of ALL live data files of the log. */
  private def visibleDataFiles()
      : Vector[org.apache.hadoop.fs.FileStatus] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Vector.empty
    val out = Vector.newBuilder[org.apache.hadoop.fs.FileStatus]
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && !(n.startsWith(".") || n.startsWith("_")))
        out ++= visibleFilesIn(fs, st.getPath)
      else if (st.isFile && n.endsWith(".parquet") &&
          !(n.startsWith(".") || n.startsWith("_")))
        out += st // flat files at the root (non-partitioned writes)
    }
    out.result()
  }

  private def invalidate(): Unit = synchronized {
    cachedTable = None
    cachedIndex = None
  }

  @transient private var appendsSinceCompactCheck = 0

  /** Amortized auto-compaction hook — runs on the appending thread at
    * the end of `append`/`appendBulk`, every [[autoCompactEvery]]
    * appends. Same single-writer assumption as append itself; readers
    * see either the pre- or post-compaction file set (identical rows)
    * thanks to compact's rename-swap. */
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
    * (`segmented_storage.rs:478-657`): the file commit IS the flush.
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
    *     no Spark job ([[appendLocal]], which also gives the crash and
    *     visibility argument).
    *   - DISTRIBUTED input (`foreachBatch` frames, streaming sinks,
    *     anything that is not a local relation) takes the Spark writer,
    *     the only path that can reach rows on executors.
    *
    * Both produce the same layout — `ts_bucket=<b>/` directories of
    * ts-sorted parquet files with the log's compression and dictionary
    * encoding off — so readers, the point index and compaction cannot
    * tell the paths apart. For backfills spanning many buckets use
    * [[appendBulk]].
    */
  def append(quads: DataFrame): Unit = localQuads(quads) match {
    case Some(batch) => appendLocal(batch)
    case None =>
      appendDistributed(quads)
      invalidate()
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
    val small = quads.queryExecution.optimizedPlan.stats.sizeInBytes <=
      EventLog.AppendCoalesceBytes
    (if (small) quads.coalesce(EventLog.AppendMaxTasks) else quads)
      .withColumn(BucketCol, bucketExpr)
      // sort by (bucket, ts): satisfies the file writer's required
      // partition-column ordering (so it adds no extra sort of its own)
      // while keeping segments ts-ordered like the reference (:222)
      .sortWithinPartitions(BucketCol, "timestamp")
      .write
      .option("compression", compression)
      // dictionary encoding off: subject/object are high-cardinality,
      // so per-file dicts build to the page cap and fall back — pure
      // encode-CPU waste (~14% of write wall); low-card columns still
      // compress via lz4 on the plain-encoded pages
      .option("parquet.enable.dictionary", "false")
      .mode(SaveMode.Append)
      .partitionBy(BucketCol)
      .parquet(path)
  }

  /** Append a driver-resident batch (see [[append]] and
    * [[EventLog.localQuads]]) without a Spark job: group by bucket,
    * sort each group by timestamp, write one parquet file per bucket
    * with Spark's own parquet output writer — set up by the same
    * `ParquetUtils.prepareWrite` a Spark write task uses, so schema,
    * footer and codec are the ones Spark writes.
    *
    * Publication is two-phase. Every bucket's file is first written
    * under a hidden temporary name ([[EventLog.AppendTempPrefix]]) in
    * its bucket directory; only after ALL writers closed are the files
    * renamed to their visible `part-` names. A failed write deletes
    * every temporary file of the batch, so a failed append leaves no
    * row visible and the caller may retry it. A crash before the
    * renames leaves hidden files that no reader admits and that the
    * next [[compact]] sweeps once they are older than the grace period.
    * The renames themselves are not one atomic step: a batch spanning
    * several buckets becomes visible bucket by bucket, as a Spark job
    * commit moves its task files one by one. */
  private[graft] def appendLocal(batch: LocalQuads): Unit = {
    val sqlConf = spark.sessionState.conf
    // the options of every Spark write of the log (see above)
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
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(job.getConfiguration)
    val ext = factory.getFileExtension(task)
    val staged = scala.collection.mutable.ArrayBuffer
      .empty[(org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path)]
    try {
      batch.rows.groupBy(r => math.floorDiv(r.getLong(0), bucketMs))
        .toSeq.sortBy(_._1).foreach { case (bucket, rows) =>
          val dir = new org.apache.hadoop.fs.Path(root, s"$BucketCol=$bucket")
          val name = s"part-00000-${java.util.UUID.randomUUID()}.c000$ext"
          val tmp = new org.apache.hadoop.fs.Path(dir, AppendTempPrefix + name)
          staged += tmp -> new org.apache.hadoop.fs.Path(dir, name)
          val writer = factory.newInstance(tmp.toString, batch.schema, task)
          try rows.sortBy(_.getLong(0)).foreach(writer.write)
          finally writer.close()
        }
    } catch {
      case t: Throwable =>
        staged.foreach { case (tmp, _) => fs.delete(tmp, false) }
        throw t
    }
    staged.foreach { case (tmp, visible) =>
      require(fs.rename(tmp, visible),
        s"failed to publish appended file $visible")
    }
    invalidate()
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
    val keyed =
      (if (splits <= 1)
        quads.repartition(parallelism, bucketExpr)
      else
        quads.repartition(parallelism, bucketExpr,
          pmod(xxhash64(col("timestamp")), lit(splits))))
        .withColumn(BucketCol, bucketExpr)
    keyed
      // ts-ordered rows within each file → tight row-group min/max
      // stats, like the reference's ts-ordered segments
      .sortWithinPartitions(BucketCol, "timestamp")
      .write
      .option("compression", compression)
      // dictionary encoding off: subject/object are high-cardinality,
      // so per-file dicts build to the page cap and fall back — pure
      // encode-CPU waste (~14% of write wall); low-card columns still
      // compress via lz4 on the plain-encoded pages
      .option("parquet.enable.dictionary", "false")
      .mode(SaveMode.Append)
      .partitionBy(BucketCol)
      .parquet(path)
    invalidate()
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

  /** Driver-side sparse time index: one (path, minTs, maxTs) entry per
    * data file, built from parquet footers once per log generation and
    * invalidated on append — the direct analogue of the reference's
    * in-memory two-level index (`segmented_storage.rs:117-163`; a few
    * bytes per segment there, a few bytes per file here). */
  @transient private var cachedIndex: Option[Vector[EventLog.FileSpan]] = None

  private def fileIndex: Vector[EventLog.FileSpan] = synchronized {
    cachedIndex.getOrElse {
      val idx = buildFileIndex()
      cachedIndex = Some(idx)
      idx
    }
  }

  private def buildFileIndex(): Vector[EventLog.FileSpan] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // the SAME marker-resolved snapshot the table reader binds to —
    // pointQuery must never diverge from query() on which files are
    // live (hidden staging dirs, tombstoned generations)
    val out = Vector.newBuilder[EventLog.FileSpan]
    visibleDataFiles().foreach { st =>
      {
        val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, conf))
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
          if (lo <= hi)
            out += EventLog.FileSpan(st.getPath.toString, lo, hi)
        } finally rdr.close()
      }
    }
    out.result().sortBy(_.minTs)
  }

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
    val files = fileIndex
      .filter(f => f.minTs <= end && f.maxTs >= start)
      .sortBy(_.minTs)
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
    * stream leaves thousands of small files per bucket — slow
    * listings, weak row-group stats, tiny scan tasks. Compaction is
    * the log-structured answer: rewrite cold buckets into few large
    * ts-ordered files (tight stats → hard pruning).
    *
    * SNAPSHOT-ISOLATED for concurrent readers: the rewrite stages its
    * output, moves it to stable marker-gated `cdata-*` names, and commits
    * with ONE atomic marker rename that simultaneously reveals the new
    * generation and tombstones the old (see the visibility-layer doc
    * above). No live file is ever renamed or deleted in place —
    * superseded files are vacuumed only by a LATER compact() call once
    * their marker is older than `graceMs`, so a reader planned at any
    * instant (or still executing within the grace) sees exactly the
    * pre- or post-compaction row set. Single-writer assumption (same
    * as append). Returns the number of buckets compacted. */
  def compact(maxFilesPerBucket: Int = 8, filesPerBucket: Int = 1,
      graceMs: Long = EventLog.DefaultCompactionGraceMs): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val prefix = s"$BucketCol="
    var compacted = 0
    // recover pre-marker-protocol leftovers (a crash between the old
    // rename-swap's two steps left the only copy in .compact-old-*),
    // and clear any interrupted staging — hidden, so never visible
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
    val now = System.currentTimeMillis()
    fs.listStatus(root).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(prefix)) {
        val bucketDir = st.getPath
        vacuumBucket(fs, bucketDir, now - graceMs)
        val live = visibleFilesIn(fs, bucketDir)
        if (live.size > maxFilesPerBucket) {
          val gen = java.util.UUID.randomUUID().toString.take(12)
          val stage = new org.apache.hadoop.fs.Path(
            root, s".compact-stage-${bucketDir.getName}")
          fs.delete(stage, true)
          spark.read
            .schema(DataSchema)
            .parquet(live.map(_.getPath.toString): _*)
            .repartition(filesPerBucket)
            .sortWithinPartitions("timestamp")
            .write
            .option("compression", compression)
      // dictionary encoding off: subject/object are high-cardinality,
      // so per-file dicts build to the page cap and fall back — pure
      // encode-CPU waste (~14% of write wall); low-card columns still
      // compress via lz4 on the plain-encoded pages
      .option("parquet.enable.dictionary", "false")
            .parquet(stage.toString)
          // move staged output to stable marker-gated names inside
          // the bucket — invisible until the marker admits them
          val staged = fs.listStatus(stage)
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            .sortBy(_.getPath.getName)
          val adds = staged.zipWithIndex.map { case (f, i) =>
            val n = s"${EventLog.CompactDataPrefix}$gen-$i.parquet"
            require(fs.rename(f.getPath,
              new org.apache.hadoop.fs.Path(bucketDir, n)),
              s"failed to place compacted file $n in $bucketDir")
            n
          }.toSeq
          fs.delete(stage, true)
          // ATOMIC COMMIT: one marker rename flips old → new
          val marker =
            s"""{"add":[${adds.map("\"" + _ + "\"").mkString(",")}],""" +
              s""""drop":[${live.map(f => "\"" + f.getPath.getName + "\"")
                .mkString(",")}]}"""
          val tmpM = new org.apache.hadoop.fs.Path(
            bucketDir, s".marker-tmp-$gen")
          val os = fs.create(tmpM, true)
          try os.write(marker.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          finally os.close()
          require(fs.rename(tmpM, new org.apache.hadoop.fs.Path(
            bucketDir, s"${EventLog.CompactMarkerPrefix}$now-$gen.json")),
            s"failed to commit compaction marker for $bucketDir")
          compacted += 1
        }
      }
    }
    if (compacted > 0) {
      invalidate()
      synchronized(rowCache.clear())
    }
    compacted
  }

  /** Vacuum one bucket: for every tombstone marker older than
    * `olderThanMs`, delete its dropped files (any in-flight reader
    * bound to them is past the grace); once a marker's OWN add files
    * have themselves been dropped and deleted by a newer generation,
    * delete the marker too. Deletion order (files, then marker) keeps
    * a crash harmless: a marker whose drops are already gone subtracts
    * nothing. The steady state is one marker + one generation of live
    * cdata files per compacted bucket.
    *
    * Also deletes driver-side append temp files (and their checksum
    * files) older than `olderThanMs`: an append that died between
    * create and rename left them, hidden and never admitted by a
    * reader; the grace keeps a concurrent append's file alive. */
  private def vacuumBucket(fs: org.apache.hadoop.fs.FileSystem,
      bucketDir: org.apache.hadoop.fs.Path, olderThanMs: Long): Unit = {
    val entries = fs.listStatus(bucketDir)
    entries.foreach { e =>
      if (e.isFile &&
          e.getPath.getName.startsWith(EventLog.AppendTempPrefix) &&
          e.getModificationTime <= olderThanMs)
        fs.delete(e.getPath, false)
    }
    val markers = entries.filter { e =>
      val n = e.getPath.getName
      e.isFile && n.startsWith(EventLog.CompactMarkerPrefix) &&
        n.endsWith(".json")
    }
    markers.foreach { m =>
      if (m.getModificationTime <= olderThanMs) {
        val (adds, drops) = readMarker(fs, m.getPath)
        drops.foreach { d =>
          val p = new org.apache.hadoop.fs.Path(bucketDir, d)
          if (fs.exists(p)) fs.delete(p, false)
        }
        val addsGone = adds.forall(a =>
          !fs.exists(new org.apache.hadoop.fs.Path(bucketDir, a)))
        if (addsGone) fs.delete(m.getPath, false)
      }
    }
  }

  /** Drop whole bucket directories that end at or before `ts` —
    * retention for live windows (nothing below the fire horizon can
    * enter any future snapshot). Directory-granular and Hadoop-FS
    * based, so it is one cheap namespace operation per expired bucket
    * regardless of row volume. Returns the number of buckets dropped. */
  def pruneBefore(ts: Long): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val prefix = s"$BucketCol="
    var dropped = 0
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith(prefix)) {
        val bucket = name.stripPrefix(prefix).toLong
        if ((bucket + 1L) * bucketMs <= ts) {
          fs.delete(st.getPath, true)
          dropped += 1
        }
      }
    }
    if (dropped > 0) {
      invalidate()
      // deleted files can never be looked up again (the rebuilt index
      // excludes them) — release their decoded rows eagerly
      synchronized(rowCache.clear())
    }
    dropped
  }
}

object EventLog {
  val BucketCol = "ts_bucket"

  /** Tombstone-marker filename prefix — `_`-prefixed so the marker is
    * invisible to plain directory reads; only the visibility layer
    * interprets it. */
  val CompactMarkerPrefix = "_compact-"

  /** Compaction data-file prefix. Deliberately NOT `.`/`_`-hidden —
    * Spark's parquet source refuses hidden files even as explicit
    * inputs — the visibility layer admits `cdata-` files only when a
    * committed marker lists them. */
  val CompactDataPrefix = "cdata-"

  /** Temporary-name prefix of a driver-side append's file until its
    * rename publishes it — `.`-hidden, so no listing admits it. */
  val AppendTempPrefix = ".append-"

  /** How long superseded (tombstoned) files outlive their compaction
    * by default — the window an in-flight reader's captured file
    * snapshot stays fully readable. Vacuumed by the NEXT compact()
    * call after expiry, so disk amplification is bounded by one
    * superseded generation per bucket per grace window. */
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
