package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** The fixed-round superstep kernel every bounded graph walk runs on: a
  * superstep is a vertex⋈message hash join on node id followed by a
  * combiner group-by — Pregelix's dataflow shape (Bu et al., VLDB 2015),
  * here on Spark SQL. Three shapes cover the bounded loops:
  * [[frontiers]] (level-synchronous BFS, optionally carrying shortest-path
  * counts σ), [[relax]] (Bellman-Ford) and [[pushSum]] + [[iterate]]
  * (power iteration: PageRank, Katz, HITS).
  *
  * Edge frames carry `src` and `dst`; state frames carry `node`.
  *
  * Lineage rule (the only copy of it): every round's new state is
  * `localCheckpoint`ed. A round references its predecessor up to three
  * times (frontier, reached set, union), so an unbroken plan grows
  * exponentially in the round count and Catalyst analysis dominates the
  * query (measured seconds of driver time on 25-node graphs). A
  * checkpoint is eager, and per-build, so iterative stages are never
  * shared across gates through the cache; loops that need that sharing
  * (label propagation) persist their rounds instead and are not built
  * here.
  */
object Superstep {

  /** Level-synchronous frontier expansion: level 0 is `seeds`, level h
    * the nodes first reached at hop h. `seeds` holds `node`, optionally
    * `sigma`, and any other columns as a KEY that rides along — a keyed
    * multi-source BFS (one independent search per key value, e.g. per
    * pivot). Each round joins the frontier to `edges` on `src`, then
    * either dedupes or, when the seeds carry `sigma`, sums σ per
    * (key, node) — the shortest-path counts of Brandes' forward phase —
    * and drops every (key, node) already reached. Returns the `hops + 1`
    * levels, each with the seed columns plus `hop`; within a key a node
    * appears in at most one level, so the levels' union is the reached
    * set with each node's hop distance. A drained frontier stays empty.
    *
    * Only the new frontier is checkpointed each round; the reached set
    * stays a flat union of checkpointed levels, so per-round
    * materialization is O(frontier), not O(all reached so far). Both
    * joins broadcast their vertex-bounded side (the frontier into the
    * edge join, the reached set into the anti-join): a checkpoint's size
    * estimate is the product of its join inputs, so the planner would
    * otherwise shuffle both sides of both joins every round (measured at
    * sf0.1: q_diameter ran 104 jobs with neither hint, 76 with both). */
  def frontiers(edges: DataFrame, seeds: DataFrame, hops: Int): IndexedSeq[DataFrame] = {
    val keys = seeds.columns.filterNot(Set("node", "sigma", "hop")).toSeq
    val keyNode = keys :+ "node"
    val carry = if (seeds.columns.contains("sigma")) Seq(col("sigma")) else Nil
    val level0 = cut(seeds.withColumn("hop", lit(0)))
    (1 to hops).foldLeft(Vector(level0)) { (levels, h) =>
      val reached = levels.map(_.select(keyNode.map(col): _*)).reduce(_ unionByName _)
      val cand = edges.join(broadcast(levels.last), col("node") === col("src"))
        .select((keys.map(col) :+ col("dst").as("node")) ++ carry: _*)
      val next =
        if (carry.isEmpty) cand.distinct()
        else cand.groupBy(keyNode.map(col): _*).agg(sum(col("sigma")).as("sigma"))
      levels :+ next.join(broadcast(reached), keyNode, "left_anti")
        .withColumn("hop", lit(h)).localCheckpoint()
    }
  }

  /** The union of [[frontiers]] levels: (key..., node, [sigma,] hop). */
  def reached(levels: Seq[DataFrame]): DataFrame = levels.reduce(_ unionByName _)

  /** Bounded Bellman-Ford: `rounds` relaxations of the (node, cost[, hops])
    * state over (src, dst, ecost) edges. A relaxation sends
    * cost + ecost (and hops + 1, when the state counts hops) along every
    * out-edge and `combine`s the messages with the current state into the
    * next state. The combiner is the algorithm's tie rule, so the caller
    * names it: [[minCost]], or a lexicographic min over (cost, hops). */
  def relax(edges: DataFrame, init: DataFrame, rounds: Int,
      combine: DataFrame => DataFrame): DataFrame = {
    val msg = Seq(col("dst").as("node"), (col("cost") + col("ecost")).as("cost")) ++
      (if (init.columns.contains("hops")) Seq((col("hops") + 1).as("hops")) else Nil)
    (init +: iterate(init, rounds) { (dist, _) =>
      combine(dist.unionByName(dist.join(edges, col("node") === col("src")).select(msg: _*)))
    }).last
  }

  /** Plain min-cost combiner for [[relax]]: one long/double min per node
    * (HashAggregate — a struct min would fall back to a sort aggregate). */
  val minCost: DataFrame => DataFrame =
    _.groupBy(col("node")).agg(min(col("cost")).as("cost"))

  /** One push-sum step: every node of `state` sends `msg` (an expression
    * over the state and edge columns) along its out-edges, and each node
    * of `nodes` receives the sum as `in_sum` — null when nothing arrives.
    * To push against edge direction, pass the edges reversed. */
  def pushSum(nodes: DataFrame, state: DataFrame, edges: DataFrame, msg: Column): DataFrame = {
    val in = state.join(edges, col("node") === col("src"))
      .groupBy(col("dst")).agg(sum(msg).as("in_sum"))
    nodes.join(in, col("node") === col("dst"), "left").drop("dst")
  }

  /** The round loop: states 1..rounds, where state r = step(state r-1, r)
    * checkpointed. All states are returned for algorithms that read more
    * than the last one (HITS' final hub and authority half-rounds, the
    * backward levels of Brandes' dependency sweep). */
  def iterate(init: DataFrame, rounds: Int)(
      step: (DataFrame, Int) => DataFrame): IndexedSeq[DataFrame] =
    (1 to rounds).scanLeft(init)((x, r) => step(x, r).localCheckpoint()).tail

  /** Seeds are referenced by every round's reached set: checkpoint them
    * unless they are driver rows already (a local relation has no lineage
    * to cut, and checkpointing it would cost a job). */
  private def cut(df: DataFrame): DataFrame = df.queryExecution.optimizedPlan match {
    case _: LocalRelation => df
    case _ => df.localCheckpoint()
  }
}
