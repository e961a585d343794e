package perfbench

/** The names and units the benchmark reports; BENCHMARK.json lists the same
  * names and MetricsSpec keeps the two in step. */
object Metrics {
  final case class M(name: String, unit: String)

  val endToEnd: Seq[M] = Seq(
    M("setup_s", "s"), M("ops_per_s", "1/s"), M("pass_s", "s"), M("resident_pass_s", "s"))

  /** Layer metrics every workload exercises. */
  val genericLayers: Seq[M] = Seq(
    M("op.wall_ms", "ms"), M("op.tail_ms", "ms"), M("op.tail_pct", "pct"), M("op.samples", "count"),
    M("self.op_ms", "ms"), M("self.build_ms", "ms"), M("self.execute_ms", "ms"),
    M("self.job_ms", "ms"), M("self.stage_ms", "ms"),
    M("plan.analysis_ms", "ms"), M("plan.optimization_ms", "ms"), M("plan.planning_ms", "ms"),
    M("sched.jobs", "count"), M("sched.stages", "count"), M("sched.tasks", "count"), M("sched.idle_ms", "ms"),
    M("exec.run_ms", "ms"), M("exec.cpu_ms", "ms"), M("exec.gc_ms", "ms"), M("exec.busy_frac", "ratio"),
    M("shuffle.write_mb", "MB"), M("shuffle.read_mb", "MB"), M("shuffle.fetch_wait_ms", "ms"),
    M("spill.mb", "MB"), M("persist.mb", "MB"), M("persist.peak_mb", "MB"),
    M("host.canary_s", "s"), M("trace.overhead_pct", "%"), M("cold.first_pass_s", "s"))

  /** Layer metrics only gql_mixed exercises. */
  val gqlLayers: Seq[M] = Stmt.Kinds.flatMap { k =>
    Seq(M(s"gql.$k.wall_ms", "ms"), M(s"gql.$k.parse_ms", "ms"), M(s"gql.$k.build_ms", "ms"),
      M(s"plan.$k.analysis_ms", "ms"), M(s"plan.$k.optimization_ms", "ms"), M(s"plan.$k.planning_ms", "ms"),
      M(s"sched.$k.jobs", "count"), M(s"sched.$k.stages", "count"), M(s"sched.$k.idle_ms", "ms"),
      M(s"exec.$k.run_ms", "ms"))
  } ++ Seq(
    M("catalog.read_ms", "ms"), M("catalog.write_bytes", "bytes"), M("catalog.write_amp", "ratio"),
    M("catalog.versions", "count"), M("catalog.space_amp", "ratio"),
    M("hnsw.generations_built", "count"), M("hnsw.reuse_ratio", "ratio"), M("hnsw.recall_at_10", "ratio"))

  /** Layer metrics only graph_batch exercises. */
  val graphLayers: Seq[M] = GraphBatch.Queries.flatMap { case (mod, q) =>
    Seq(M(s"$mod.$q.wall_s", "s"), M(s"$mod.$q.jobs", "count"))
  }

  val perLayer: Seq[M] = genericLayers ++ gqlLayers ++ graphLayers

  /** The per-layer metrics a workload must produce itself. The others are
    * layers it never calls, reported as 0. */
  def exercised(workload: String): Seq[M] = genericLayers ++ (workload match {
    case GqlMixed.name => gqlLayers
    case GraphBatch.name => graphLayers
  })

  /** The result object: `metrics` holds every end-to-end metric (untraced
    * run) or every per-layer metric (traced run), by name with its unit. */
  def result(workload: String, trace: Boolean, r: RunResult): collection.Map[String, Any] = {
    val values: Seq[(M, Double)] =
      if (!trace) endToEnd.map(m => m -> r.endToEnd.getOrElse(m.name,
        throw new IllegalStateException(s"$workload did not measure ${m.name}")))
      else {
        val own = exercised(workload).map(_.name).toSet
        perLayer.map { m =>
          m -> r.layers.getOrElse(m.name,
            if (own(m.name)) throw new IllegalStateException(s"$workload did not measure ${m.name}") else 0.0)
        }
      }
    val metrics = collection.mutable.LinkedHashMap[String, Any]()
    values.foreach { case (m, v) => metrics(m.name) = collection.mutable.LinkedHashMap("value" -> v, "unit" -> m.unit) }
    collection.mutable.LinkedHashMap[String, Any](
      "correct" -> (r.failed == 0), "attempted" -> r.attempted, "failed" -> r.failed, "metrics" -> metrics)
  }
}
