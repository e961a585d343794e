package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev utility (like [[Explain]]): run one or more
  * SparkEntry queries with a listener counting Spark jobs, stages and
  * tasks — the profile that separates "fixed job latency × round count"
  * from data volume for the iterative gates (guide §1: measure first).
  * Prints the [[Bench.canary]] host canary first, so two probes taken at
  * different times can be compared at equal host state.
  * Usage: runMain graft.JobProbe <sfDir> <name> [name...]
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        Tables.scaledInitialPartitions(sfDir, cpus.toInt).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks)
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null) taskMs.addAndGet(te.taskInfo.duration)
    })
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // table warm-up so cold parquet footers don't pollute the first query
    Seq("orders", "lineitem", "documents", "embeddings").foreach { t =>
      try noop(spark.read.parquet(s"$sfDir/$t.parquet")) catch { case _: Throwable => }
    }
    println(f"JOBPROBE canary ${Bench.canary(spark)}%.2f s")
    names.foreach { n =>
      (1 to 2).foreach { pass =>
        spark.catalog.clearCache()
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L)
        val t0 = System.nanoTime()
        noop(SparkEntry.queries(n)(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"JOBPROBE $n pass$pass wall ${wall}%.2f s  jobs ${jobs.get}  " +
          f"stages ${stages.get}  tasks ${tasks.get}  taskTime ${taskMs.get / 1e3}%.1f s")
      }
    }
    spark.stop()
  }
}
