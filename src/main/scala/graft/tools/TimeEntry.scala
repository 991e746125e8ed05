package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd}
object TimeEntry {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t0ByJob = scala.collection.concurrent.TrieMap.empty[Int, (String, Long)]
    val wall = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val cnt = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = if (record) {
        val cs = j.stageInfos.lastOption.map(_.name).getOrElse("?")
        t0ByJob(j.jobId) = (cs, System.nanoTime())
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        t0ByJob.remove(j.jobId).foreach { case (cs, t0) =>
          wall.synchronized { wall(cs) += (System.nanoTime()-t0)/1e9; cnt(cs) += 1 } }
    })
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to reps).foreach { i =>
        if (i == reps) { wall.clear(); cnt.clear(); record = true }
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"TIME $name rep=$i rows=$n t=${(System.nanoTime()-t0)/1e9}%.2f s")
        record = false
      }
      wall.toSeq.sortBy(-_._2).foreach { case (k, v) =>
        println(f"JOBWALL ${v}%.2f s n=${cnt(k)}  $k") }
    }
    spark.stop()
  }
}
