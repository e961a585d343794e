package graft

import graft.graph.Superstep
import graft.operators.BigGraphOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The superstep kernel against scalar mirrors on hand-built graphs, plus
  * two ported gates (q_sssp_big, q_diameter) against scalar mirrors on
  * the sf0.001 co-purchase edges. */
class SuperstepSpec extends AnyFunSuite {
  import SparkTestBase._
  import spark.implicits._

  private def edgesDf(e: Seq[(Long, Long)]): DataFrame = e.toDF("src", "dst")

  /** Scalar level-synchronous BFS: node -> first hop, bounded at `hops`. */
  private def bfsMirror(e: Seq[(Long, Long)], seed: Long, hops: Int): Map[Long, Int] = {
    val adj = e.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = Map(seed -> 0)
    var frontier = Set(seed)
    for (h <- 1 to hops) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)) -- dist.keySet
      dist ++= frontier.map(_ -> h)
    }
    dist
  }

  /** Scalar bounded Bellman-Ford: node -> min cost within `rounds` edges. */
  private def relaxMirror(e: Seq[(Long, Long, Long)], seed: Long, rounds: Int): Map[Long, Long] =
    (1 to rounds).foldLeft(Map(seed -> 0L)) { (dist, _) =>
      val msgs = for ((u, v, w) <- e; du <- dist.get(u)) yield v -> (du + w)
      (dist.toSeq ++ msgs).groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    }

  private def reachedHops(levels: Seq[DataFrame]): Map[Long, Int] =
    Superstep.reached(levels).select("node", "hop").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  // path 1→2→3→4→5, cycle 10→11→12→10 hung off 3, a parallel 1→2 edge, and
  // 99, which only points INTO the graph and so is never reached
  private val mixed = Seq(1L -> 2L, 1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L,
    3L -> 10L, 10L -> 11L, 11L -> 12L, 12L -> 10L, 99L -> 1L)

  test("frontiers: path, cycle, parallel edges and an unreachable node match the mirror") {
    val levels = Superstep.frontiers(edgesDf(mixed), Seq(1L).toDF("node"), 6)
    assert(levels.size == 7)
    val got = reachedHops(levels)
    assert(got == bfsMirror(mixed, 1L, 6))
    assert(!got.contains(99L))
    // each level holds each node once, parallel edges notwithstanding
    levels.foreach(l => assert(l.count() == l.select("node").distinct().count()))
  }

  test("frontiers: keyed multi-source seeds with overlapping reach stay independent") {
    val seeds = Seq((1, 1L), (2, 3L), (3, 11L)).toDF("k", "node")
    val got = Superstep.reached(Superstep.frontiers(edgesDf(mixed), seeds, 3))
      .select("k", "node", "hop").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getInt(2)).toMap
    val want = Seq(1 -> 1L, 2 -> 3L, 3 -> 11L).flatMap { case (k, s) =>
      bfsMirror(mixed, s, 3).map { case (n, h) => (k, n) -> h }
    }.toMap
    assert(got == want)
    // the reaches overlap (3 and 4 are reached under several keys)
    assert(got.keys.count(_._2 == 4L) == 2)
  }

  test("frontiers: sigma counts shortest paths on a diamond") {
    // 1→{2,3}→4→5 plus a longer 1→6→7→4 detour that must not count
    val diamond = Seq(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L, 4L -> 5L,
      1L -> 6L, 6L -> 7L, 7L -> 4L)
    val levels = Superstep.frontiers(edgesDf(diamond),
      Seq((1L, 1L)).toDF("node", "sigma"), 3)
    val got = Superstep.reached(levels).select("node", "sigma", "hop").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(got == Map(1L -> (1L, 0), 2L -> (1L, 1), 3L -> (1L, 1), 6L -> (1L, 1),
      4L -> (2L, 2), 7L -> (1L, 2), 5L -> (2L, 3)))
  }

  test("frontiers: a frontier that drains before the hop bound stays empty") {
    val path = Seq(1L -> 2L, 2L -> 3L)
    val levels = Superstep.frontiers(edgesDf(path), Seq(1L).toDF("node"), 5)
    assert(levels.map(_.count()) == Seq(1L, 1L, 1L, 0L, 0L, 0L))
    assert(reachedHops(levels) == bfsMirror(path, 1L, 5))
  }

  test("relax: a longer path that is cheaper wins, hops follow the winner") {
    // direct 1→2 costs 10; 1→3→4→2 costs 3 over three edges
    val e = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 4L, 1L), (4L, 2L, 1L), (2L, 5L, 1L))
    val edges = e.toDF("src", "dst", "ecost")
    val init = Seq((1L, 0L)).toDF("node", "cost")
    for (rounds <- Seq(1, 3, 4)) {
      val got = Superstep.relax(edges, init, rounds, Superstep.minCost).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == relaxMirror(e, 1L, rounds), s"rounds=$rounds")
    }
    // the GQL combiner carries the hop count of the cheapest path
    val withHops = Superstep.relax(edges, Seq((1L, 0L, 0)).toDF("node", "cost", "hops"), 4,
      _.groupBy(col("node")).agg(min(struct(col("cost"), col("hops"))).as("b"))
        .select(col("node"), col("b.cost").as("cost"), col("b.hops").as("hops")))
    val two = withHops.filter(col("node") === 2L).collect().head
    assert((two.getLong(1), two.getInt(2)) == (3L, 3))
  }

  test("pushSum + iterate: walk counts match the mirror") {
    val e = mixed.distinct
    val edges = edgesDf(e)
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct.toDF("node")
    val init = nodes.select(col("node"), lit(1L).as("x"))
    val states = Superstep.iterate(init, 3) { (x, _) =>
      Superstep.pushSum(nodes, x, edges, col("x"))
        .select(col("node"), (lit(1L) + coalesce(col("in_sum"), lit(0L))).as("x"))
    }
    assert(states.size == 3)
    // x_k(v) = 1 + Σ_{u→v} x_{k-1}(u): walks of length ≤ k ending at v
    val want = (1 to 3).foldLeft(e.flatMap(p => Seq(p._1, p._2)).map(_ -> 1L).toMap) { (x, _) =>
      x.map { case (v, _) => v -> (1L + e.collect { case (u, `v`) => x(u) }.sum) }
    }
    assert(states.last.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
  }

  test("lineage: Join nodes in the result plan stay constant from 2 rounds to 12") {
    val ring = edgesDf((0L until 20L).map(i => i -> (i + 1) % 20))
    val wEdges = ring.withColumn("ecost", lit(1L))
    val nodes = ring.select(col("src").as("node"))
    def joins(df: DataFrame): Int =
      df.queryExecution.analyzed.collect { case j: Join => j }.size
    def kernels(rounds: Int): Seq[Int] = Seq(
      joins(Superstep.reached(Superstep.frontiers(ring, Seq(0L).toDF("node"), rounds))),
      joins(Superstep.relax(wEdges, Seq((0L, 0L)).toDF("node", "cost"), rounds,
        Superstep.minCost)),
      joins(Superstep.iterate(nodes.withColumn("x", lit(1L)), rounds) { (x, _) =>
        Superstep.pushSum(nodes, x, ring, col("x")).select(col("node"), col("in_sum").as("x"))
      }.last))
    assert(kernels(12) == kernels(2))
  }

  private lazy val coEdges: Seq[(Long, Long, Long)] =
    BigGraphOps.coEdges(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("q_sssp_big matches a scalar 6-round Bellman-Ford") {
    val start = coEdges.map(_._1).min
    val want = relaxMirror(coEdges, start, BigGraphOps.SSSP_ROUNDS)
    val got = SparkEntry.queries("q_sssp_big")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(want.size > 1)
    assert(got == want)
  }

  test("q_diameter matches a scalar double sweep") {
    val und = coEdges.flatMap { case (a, b, _) => Seq(a -> b, b -> a) }
    def farthest(from: Long): (Long, Int) =
      bfsMirror(und, from, BigGraphOps.DS_HOPS).toSeq.minBy { case (n, h) => (-h, n) }
    val start = coEdges.map(_._1).min
    val (far1, ecc1) = farthest(start)
    val (far2, ecc2) = farthest(far1)
    val r = SparkEntry.queries("q_diameter")(spark, sfDir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getInt(4)) ==
      (start, far1, ecc1, far2, ecc2))
    assert(ecc2 >= ecc1 && ecc2 > 0)
  }
}
