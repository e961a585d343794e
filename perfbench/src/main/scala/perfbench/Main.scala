package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints the result object as the last stdout line.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --data <dir> --work <dir> --cpus <n>
  *
  * `--data` holds one generated table directory per scale factor
  * (`sf0.1`, `sf0.001`); `--work` is scratch space for catalogs, Spark's
  * local files and trace output. */
object Main {
  def parse(argv: Seq[String]): Map[String, String] = {
    require(argv.size % 2 == 0, s"arguments come in --name value pairs: ${argv.mkString(" ")}")
    argv.grouped(2).map { case Seq(k, v) =>
      require(k.startsWith("--"), s"bad option $k")
      k.drop(2) -> v
    }.toMap
  }

  def session(cpus: Int, sfDir: String, work: java.nio.file.Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        graft.Tables.scaledInitialPartitions(sfDir, cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    def arg(k: String): String = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = Workload.all.find(_.name == arg("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${arg("workload")}; " +
        s"known: ${Workload.all.map(_.name).mkString(", ")}"))
    val trace = arg("trace") match {
      case "0" => false
      case "1" => true
      case other => throw new IllegalArgumentException(s"--trace takes 0 or 1, not $other")
    }
    val seconds = arg("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    val cpus = arg("cpus").toInt
    val dataRoot = Paths.get(arg("data"))
    val work = Paths.get(arg("work"))
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = session(cpus, dataRoot.resolve("sf0.1").toString, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val result =
      try {
        val ctx = Ctx(spark, dataRoot, work, arg("seed").toLong, seconds, trace, cpus, sessionS)
        val r = workload.run(ctx)
        System.err.println(s"[perfbench] ${workload.name} info: ${Json.render(r.info)}")
        // every operation as it ran, for reading a run after the fact
        Files.writeString(work.resolve(s"ops-${workload.name}-${ctx.seed}-trace${arg("trace")}.json"),
          Json.render(r.outcomes.map(o => Map("kind" -> o.kind, "regime" -> o.regime, "ms" -> o.ms,
            "error" -> o.error.orNull))))
        Metrics.result(workload.name, trace, r)
      } finally spark.stop()
    println(Json.render(result))
  }
}
