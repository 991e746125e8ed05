package graft.streaming

import graft.util.Lineage

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/** Base of the `Streaming*` folds in [[StructuredStreams]]: standing
  * state maintained by folding micro-batches, declared as named slots
  * ([[Pinned]], [[Spool]], [[Counts]]). A subclass supplies its
  * `foldBatch` logic and its `current` view; the lifecycle — fold,
  * save, restore, unpersist — is written once here, under the
  * instance lock.
  *
  * Restart durability: every standing state is one or more plain
  * DataFrames plus, for a few classes, bounded driver metadata
  * (per-stratum count maps, a watermark scalar) — so surviving a
  * driver restart is a parquet write + read, the same operational
  * claim the standing indexes prove in IndexPersistenceSpec. A
  * driver-memory localCheckpoint pin alone is NOT restart-durable:
  * without save/restore a fold silently loses its standing
  * sample/funnel on restart. `save(path)` writes each slot under
  * `path/<slot dir>` (fails loudly when nothing has been folded);
  * `restore(spark, path)` loads into a FRESH instance constructed with
  * the same parameters (fails loudly on a non-fresh instance), after
  * which `fold` resumes exactly where the saved instance stopped —
  * StreamingDurabilitySpec pins fold-k → save → new instance → restore
  * → fold-rest ≡ the uninterrupted fold, and the
  * `events_funnel_durable` gate entry routes a save/restore through
  * the DuckDB oracle. `unpersist()` releases every slot and leaves the
  * instance fresh (restorable, or foldable from scratch). */
abstract class StandingFold {
  private val slots = scala.collection.mutable.ArrayBuffer.empty[Slot]
  @volatile private var session: SparkSession = _

  /** Fold one (micro-)batch into the standing state. */
  final def fold(batch: DataFrame): Unit = synchronized {
    session = batch.sparkSession
    foldBatch(batch)
  }

  protected def foldBatch(batch: DataFrame): Unit

  /** Runs after every slot of a [[restore]] has loaded; throwing
    * rejects the saved state and leaves the instance fresh. */
  protected def restored(): Unit = ()

  private def name = getClass.getSimpleName

  def save(path: String): Unit = synchronized {
    if (!slots.forall(_.ready)) throw new IllegalStateException(
      s"$name.save: nothing to save — no batch folded yet")
    slots.foreach(s => s.save(session, s"$path/${s.dir}"))
  }

  def restore(spark: SparkSession, path: String): Unit = synchronized {
    require(slots.forall(_.isEmpty), s"$name.restore must target a " +
      "fresh instance (state already folded — restoring over live " +
      "state would silently merge two histories)")
    session = spark
    try {
      slots.foreach(s => s.load(spark, s"$path/${s.dir}"))
      restored()
    } catch { case NonFatal(e) => release(); throw e }
  }

  def unpersist(): Unit = synchronized(release())

  private def release(): Unit = slots.foreach(_.release())

  /** One piece of standing state, saved under `path/dir`. Declaration
    * order is save/restore order. */
  protected abstract class Slot(val dir: String) {
    slots += this
    def isEmpty: Boolean
    /** Whether [[save]] may run; metadata slots save even when empty. */
    def ready: Boolean = !isEmpty
    def save(spark: SparkSession, path: String): Unit
    def load(spark: SparkSession, path: String): Unit
    def release(): Unit
  }

  /** A lineage-truncated frame, re-pinned per fold. Superseded
    * generations are released through the checkpoint RDD
    * ([[graft.util.Lineage.release]] — `Dataset.unpersist` is a no-op
    * for checkpoint blocks). */
  protected final class Pinned(dir: String) extends Slot(dir) {
    @volatile private var df: Option[DataFrame] = None
    def frame: Option[DataFrame] = df
    /** Pin `next`, then release the generation it supersedes (`next`
      * may read the old pin, so the order matters). */
    def replace(next: DataFrame): Unit = {
      val pinned = next.localCheckpoint(true)
      df.foreach(Lineage.release)
      df = Some(pinned)
    }
    def isEmpty: Boolean = df.isEmpty
    def save(spark: SparkSession, path: String): Unit =
      df.get.write.mode("overwrite").parquet(path)
    def load(spark: SparkSession, path: String): Unit =
      df = Some(spark.read.parquet(path).localCheckpoint(true))
    def release(): Unit = { df.foreach(Lineage.release); df = None }
  }

  /** A log-structured [[DeltaFrame]] spool for corpus-sized state,
    * created on first use under `spoolDir/sub`. */
  protected final class Spool(dir: String, name: String,
      compactEvery: Int, spoolDir: Option[String], sub: String)
      extends Slot(dir) {
    def this(dir: String, name: String, compactEvery: Int,
        spoolDir: Option[String]) =
      this(dir, name, compactEvery, spoolDir, dir)
    @volatile private var dl: Option[DeltaFrame] = None
    def apply(spark: SparkSession): DeltaFrame = {
      if (dl.isEmpty) dl = Some(new DeltaFrame(spark, name, compactEvery,
        spoolDir.map(d => s"$d/$sub")))
      dl.get
    }
    def spool: Option[DeltaFrame] = dl
    /** The live generations, or None before the first append. */
    def contents: Option[DataFrame] = dl.filter(!_.isEmpty).map(_.read)
    def isEmpty: Boolean = dl.forall(_.isEmpty)
    def save(spark: SparkSession, path: String): Unit = dl.get.saveTo(path)
    def load(spark: SparkSession, path: String): Unit =
      apply(spark).loadFrom(path)
    def release(): Unit = { dl.foreach(_.delete()); dl = None }
  }

  /** Bounded driver metadata: a (key → count) map, saved as (k, n). */
  protected final class Counts(dir: String) extends Slot(dir) {
    val map = scala.collection.mutable.Map.empty[String, Long]
    def add(k: String, n: Long): Unit = map(k) = map.getOrElse(k, 0L) + n
    def isEmpty: Boolean = map.isEmpty
    override def ready: Boolean = true
    def save(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      map.toSeq.toDF("k", "n").write.mode("overwrite").parquet(path)
    }
    // driver-bounded: one row per stratum/bin key
    def load(spark: SparkSession, path: String): Unit =
      spark.read.parquet(path).select("k", "n").collect()
        .foreach(r => map(r.getString(0)) = r.getLong(1))
    def release(): Unit = map.clear()
  }
}
