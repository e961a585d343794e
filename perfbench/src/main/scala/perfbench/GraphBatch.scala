package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** graph_batch: iterative graph queries of `SparkEntry.queries`, run one at
  * a time in a fixed order and materialized through the noop sink. Their
  * supersteps are many small jobs, so the job and stage scheduling floor is
  * most of their cost. Three regimes, never blended: the first pass in a
  * fresh JVM, fresh runs with `clearCache()` before each query, and resident
  * runs that repeat a query at once and reuse its persisted blocks. */
object GraphBatch extends Workload {
  val name = "graph_batch"
  val Sf = "0.001"
  /** (module, query), in alphabetical order of the query name */
  val Queries: Seq[(String, String)] = Seq(
    "GraphOps" -> "q_bfs",
    "BigGraphOps" -> "q_sssp_big")
  val Tables = Seq("customer", "nation", "orders")
  val SetupReps = 3
  /** Nominal time of one pass: each query fresh, then repeated. */
  val PassSeconds = 5.0

  /** Order-insensitive digest of a query's rows (row count, xor and modular
    * sum of row hashes), gathered while the noop sink runs the plan. */
  private def observed(df: DataFrame, obs: Observation): DataFrame = {
    val h = xxhash64(df.columns.map(c => df.col(s"`${c.replace("`", "``")}`")): _*)
    df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(pmod(h, lit(1000000007L))).as("s"))
  }

  def run(ctx: Ctx): RunResult = {
    val spark = ctx.spark
    val dir = ctx.data(Sf)
    val reps = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      Workload.warmTables(spark, dir, Tables)
      val c = Workload.canary(spark, ctx.cpus)
      ((System.nanoTime() - t0) / 1e9, c)
    }
    val setupS = ctx.sessionS + Stats.median(reps.map(_._1))
    val canaryS = Stats.median(reps.map(_._2))

    val h = new Harness
    val digests = mutable.HashMap[String, Map[String, Any]]()
    val persistMb = mutable.ArrayBuffer[Double]()
    val storageMb = mutable.ArrayBuffer[Double]()

    def exec(query: String, regime: String): Outcome =
      h.run(query, regime) { p =>
        val obs = Observation()
        val df = p("build")(SparkEntry.queries(query)(spark, dir))
        p("execute")(Workload.noop(observed(df, obs)))
        val got = obs.get.toMap
        () => {
          if (regime.startsWith("traced")) {
            persistMb += Workload.persistedMb(spark)
            storageMb += Workload.storageMb(spark)
          }
          digests.get(query) match {
            case None => digests(query) = got; None
            case Some(want) if want == got => None
            case Some(want) => Some(s"$query ($regime): result digest $got, earlier runs gave $want")
          }
        }
      }

    def pass(fresh: String, resident: Option[String]): Unit =
      Queries.foreach { case (_, q) =>
        spark.catalog.clearCache()
        exec(q, fresh)
        resident.foreach(exec(q, _))
      }

    def passes(n: Int, fresh: String, resident: String): Unit =
      (1 to n).foreach(_ => pass(fresh, Some(resident)))

    val names = Queries.map(_._2)
    pass("first", None)
    val units = Workload.units(ctx.seconds, PassSeconds)
    if (!ctx.trace) passes(units, "fresh", "resident")
    else {
      // untraced, traced, untraced, as in GqlMixed
      val (before, traced, after) = Workload.traceSplit(units)
      passes(before, "fresh", "resident")
      val tracer = new Tracer(spark)
      tracer.start()
      h.tracer = Some(tracer)
      passes(traced, "traced", "traced_resident")
      h.tracer = None
      tracer.drain()
      passes(after, "fresh", "resident")
      Workload.writeTrace(ctx, name, tracer)
      val ls = tracer.layers(h.tracedKinds.toMap)
      val freshLayers = ls.filter(l => h.tracedRegimes.get(l.op).contains("traced"))
      val layers = mutable.LinkedHashMap[String, Double]()
      layers ++= Workload.genericLayers(freshLayers, ctx.cpus)
      Queries.foreach { case (mod, q) =>
        val ql = freshLayers.filter(_.kind == q)
        layers(s"$mod.$q.wall_s") = if (ql.isEmpty) 0.0 else Stats.median(ql.map(_.wallMs)) / 1000.0
        layers(s"$mod.$q.jobs") = if (ql.isEmpty) 0.0 else ql.map(_.jobs).sum.toDouble / ql.size
      }
      layers("persist.mb") = if (persistMb.isEmpty) 0.0 else persistMb.sum / persistMb.size
      layers("persist.peak_mb") = if (storageMb.isEmpty) 0.0 else storageMb.max
      layers("host.canary_s") = canaryS
      layers("cold.first_pass_s") = h.ms("first").sum / 1000.0
      layers("trace.overhead_pct") = Workload.overheadPct(h, "fresh", "traced", names)
      return RunResult(Map.empty, layers.toMap, h.outcomes.size, h.outcomes.count(!_.ok),
        Map("failures" -> Workload.failuresByKind(h)), h.outcomes.toSeq)
    }

    val fresh = h.ms("fresh")
    val e2e = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> fresh.size / (fresh.sum / 1000.0),
      "pass_s" -> Workload.passS(h, "fresh", names),
      "resident_pass_s" -> Workload.passS(h, "resident", names))
    RunResult(e2e, Map.empty, h.outcomes.size, h.outcomes.count(!_.ok), Map(
      "first_pass_s" -> h.ms("first").sum / 1000.0, "passes" -> h.ms("fresh", names.head).size,
      "per_query" -> names.map { q =>
        q -> Map("first_s" -> h.ms("first", q).sum / 1000.0,
          "fresh_s" -> h.ms("fresh", q).map(_ / 1000.0), "resident_s" -> h.ms("resident", q).map(_ / 1000.0))
      }.toMap,
      "canary_s" -> canaryS, "failures" -> Workload.failuresByKind(h)), h.outcomes.toSeq)
  }

}
