package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Everything a workload run gets from the command line and the set-up. */
final case class Ctx(spark: SparkSession, dataRoot: Path, work: Path, seed: Long,
                     seconds: Int, trace: Boolean, cpus: Int, sessionS: Double) {
  def data(sf: String): String = dataRoot.resolve(s"sf$sf").toString
}

/** A workload's measurements. `endToEnd` comes from untraced operations;
  * `layers` from traced ones (empty when the run is untraced). */
final case class RunResult(endToEnd: Map[String, Double], layers: Map[String, Double],
                           attempted: Int, failed: Int, info: Map[String, Any],
                           outcomes: Seq[Outcome])

trait Workload {
  def name: String
  def run(ctx: Ctx): RunResult
}

object Workload {
  val all: Seq[Workload] = Seq(GqlMixed, GraphBatch)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Read every column of the named tables once, so cold file and codegen
    * costs land in set-up rather than in the first measured operation. */
  def warmTables(spark: SparkSession, dir: String, tables: Seq[String]): Unit =
    tables.foreach(t => noop(spark.read.parquet(s"$dir/$t.parquet")))

  /** Host canary: a fixed hash + shuffle job on generated rows. It moves
    * with the host, not with the engine, and separates drift from change. */
  def canary(spark: SparkSession, cpus: Int): Double = {
    val t0 = System.nanoTime()
    noop(spark.range(0, 2000000L, 1, 2 * cpus)
      .selectExpr("id % 10000 AS k", "conv(substring(md5(cast(id AS string)), 1, 8), 16, 10) AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("sv")))
    (System.nanoTime() - t0) / 1e9
  }

  /** Storage memory (MB) that cached blocks hold right now. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1048576.0

  /** Size in MB of the RDD blocks persisted right now. */
  def persistedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def writeTrace(ctx: Ctx, workload: String, tracer: Tracer): Unit =
    Files.writeString(ctx.work.resolve(s"trace-$workload-${ctx.seed}.json"), Json.render(tracer.spansJson()))

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.deleteIfExists(_))
      finally s.close()
    }

  /** Layer figures shared by every workload: per-operation means over the
    * traced ops `ls`, plus the tail of their latency by [[Stats.tail]]. */
  def genericLayers(ls: Seq[OpLayers], cpus: Int): Map[String, Double] = {
    def mean(f: OpLayers => Double): Double = if (ls.isEmpty) 0.0 else ls.map(f).sum / ls.size
    val wall = ls.map(_.wallMs)
    val (tailPct, tailMs) = if (wall.isEmpty) (0.0, 0.0) else Stats.tail(wall)
    val mb = 1048576.0
    Map(
      "op.wall_ms" -> mean(_.wallMs),
      "op.tail_ms" -> tailMs,
      "op.tail_pct" -> tailPct,
      "op.samples" -> ls.size.toDouble,
      "self.op_ms" -> mean(_.selfMs.getOrElse("op", 0.0)),
      "self.build_ms" -> mean(_.selfMs.getOrElse("build", 0.0)),
      "self.execute_ms" -> mean(_.selfMs.getOrElse("execute", 0.0)),
      "self.job_ms" -> mean(_.selfMs.getOrElse("job", 0.0)),
      "self.stage_ms" -> mean(_.selfMs.getOrElse("stage", 0.0)),
      "plan.analysis_ms" -> mean(_.planMs("analysis")),
      "plan.optimization_ms" -> mean(_.planMs("optimization")),
      "plan.planning_ms" -> mean(_.planMs("planning")),
      "sched.jobs" -> mean(_.jobs.toDouble),
      "sched.stages" -> mean(_.stages.toDouble),
      "sched.tasks" -> mean(_.tasks.toDouble),
      "sched.idle_ms" -> mean(_.idleMs),
      "exec.run_ms" -> mean(_.runMs),
      "exec.cpu_ms" -> mean(_.cpuMs),
      "exec.gc_ms" -> mean(_.gcMs),
      "exec.busy_frac" -> (if (wall.isEmpty) 0.0 else ls.map(_.runMs).sum / (wall.sum * cpus)),
      "shuffle.write_mb" -> mean(_.shuffleWriteB / mb),
      "shuffle.read_mb" -> mean(_.shuffleReadB / mb),
      "shuffle.fetch_wait_ms" -> mean(_.fetchWaitMs),
      "spill.mb" -> mean(_.spillB / mb))
  }

  /** How many decks or passes a run of `seconds` measures: a fixed amount
    * of work for a given `--seconds`, at the unit's nominal duration, so
    * runs of one configuration always take the same number of samples. */
  def units(seconds: Int, unitSeconds: Double): Int =
    math.max(1, math.ceil(seconds / unitSeconds - 1e-9).toInt)

  /** A traced run's units before, during and after tracing. */
  def traceSplit(units: Int): (Int, Int, Int) = {
    val q = math.max(1, units / 4)
    (q, math.max(1, units - 2 * q), q)
  }

  /** Sum over kinds of each kind's median latency, in seconds. */
  def passS(h: Harness, regime: String, kinds: Seq[String]): Double =
    kinds.map { k =>
      val xs = h.ms(regime, k)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }.sum / 1000.0

  /** Tracing overhead in percent: the traced pass against the untraced one,
    * both as sums of per-kind medians from the same run. */
  def overheadPct(h: Harness, untraced: String, traced: String, kinds: Seq[String]): Double = {
    val u = passS(h, untraced, kinds)
    val t = passS(h, traced, kinds)
    if (u <= 0) 0.0 else (t / u - 1) * 100
  }

  def failuresByKind(h: Harness): Map[String, Int] =
    h.outcomes.filterNot(_.ok).groupBy(_.kind).map { case (k, v) => k -> v.size }.toMap
}
