package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.gql.{GqlEngine, Parser}

/** gql_mixed: one client in a closed loop sends the seeded statement stream
  * of [[GqlStream]] to a [[GqlEngine]] over a catalog bulk-loaded from the
  * sf0.1 tables: `customer` (15,000 int-keyed vertices), `co` (the
  * co-purchase edges of `BigGraphOps.coEdges`) and `emb` (2,000 vectors of
  * 64 dimensions with a declared HNSW index). One client, because the engine
  * keeps session state and the catalog has no concurrent-writer protection. */
object GqlMixed extends Workload {
  import Stmt._

  val name = "gql_mixed"
  val Sf = "0.1"
  /** Set-ups per run. Each bulk-loads the whole catalog (the first, cold,
    * takes about 15 s); setup_s takes their median. */
  val SetupReps = 2
  /** Nominal time of one deck of 20 statements and its 5 repeats. */
  val DeckSeconds = 7.5
  val Tables = Seq("customer", "orders", "embeddings")
  val CustomerCols = Seq("key_i", "key_s", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")

  def customerRows(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/customer.parquet").select(
      col("c_custkey").cast("long").as("key_i"), lit(null).cast("string").as("key_s"),
      col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))

  def embRows(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.embeddings(spark, dir).select(
      col("vec_id").as("key_i"), lit(null).cast("string").as("key_s"),
      col("embedding").cast("array<double>").as("v"))

  /** Declare the graph and load its three groups through GraphCatalog.write. */
  def bulkLoad(spark: SparkSession, dir: String, root: Path): GqlEngine = {
    val e = new GqlEngine(spark, root.toString)
    val created = e.exec(s"{create: '$Db', group: [{customer: ['c_name', 'c_nationkey', 'c_acctbal', " +
      "'c_mktsegment']}, ['customer', 'co', 'customer'], {emb: ['v'], index: ['v']}]};")
    require(created.forall(_.status == "CREATE SUCCESS"), s"create failed: ${created.map(_.status)}")
    e.catalog.write(Db, "customer", customerRows(spark, dir), "vertex", "int")
    e.catalog.write(Db, "co", graft.operators.BigGraphOps.coEdges(spark, dir).select(
      col("src").cast("long").as("src_i"), lit(null).cast("string").as("src_s"),
      col("dst").cast("long").as("dst_i"), lit(null).cast("string").as("dst_s"),
      lit(true).as("directed"), col("w")), "edge", "")
    e.catalog.write(Db, "emb", embRows(spark, dir), "vertex", "int")
    e
  }

  /** Co-purchase edges derived from `orders` by the benchmark itself: within
    * each (order week, priority) cohort, customers sorted by key, each linked
    * to the next. This is the relation the `co` group is documented to hold. */
  def expectedEdges(spark: SparkSession, dir: String): Set[(Long, Long)] = {
    val epoch = LocalDate.of(1992, 1, 1).toEpochDay
    val memb = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderdate", "o_orderpriority", "o_custkey").collect()
      .map { r =>
        val day = r.get(0) match {
          case d: java.sql.Date => d.toLocalDate.toEpochDay
          case d: LocalDate => d.toEpochDay
          // the session time zone is UTC, so datediff reads timestamps in UTC
          case t: java.sql.Timestamp => t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate.toEpochDay
          case t: java.time.Instant => t.atZone(java.time.ZoneOffset.UTC).toLocalDate.toEpochDay
        }
        ((day - epoch) / 7, r.getString(1), r.getAs[Number](2).longValue)
      }.distinct
    memb.groupBy(m => (m._1, m._2)).valuesIterator.flatMap { g =>
      val ks = g.map(_._3).sorted
      ks.zip(ks.drop(1))
    }.toSet
  }

  def model(spark: SparkSession, dir: String): GqlModel = {
    val cust = mutable.HashMap[Long, Map[String, Any]]()
    customerRows(spark, dir).collect().foreach { r =>
      cust(r.getLong(0)) = CustomerCols.map(c => c -> r.getAs[Any](c)).toMap
    }
    val emb = mutable.HashMap[Long, Array[Double]]()
    embRows(spark, dir).collect().foreach(r => emb(r.getLong(0)) = r.getSeq[Double](2).toArray)
    new GqlModel(CustomerCols, cust, mutable.HashSet[(Long, Long)]() ++ expectedEdges(spark, dir), emb)
  }

  /** Generations of the emb group's HNSW index present on disk. */
  private def hnswGenerations(root: Path): Set[String] = {
    val d = root.resolve(Db).resolve("emb")
    if (!Files.isDirectory(d)) Set.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(".hnswp_")).map(_.replaceAll("_p\\d+$", "")).toSet
      finally s.close()
    }
  }

  private def versionDirs(root: Path): Int = {
    val s = Files.walk(root.resolve(Db), 2)
    try s.iterator().asScala.count(p => Files.isDirectory(p) && p.getFileName.toString.matches("v\\d+"))
    finally s.close()
  }

  def run(ctx: Ctx): RunResult = {
    val spark = ctx.spark
    val dir = ctx.data(Sf)

    // set-up, repeated: table warm-up, host canary, bulk load into a fresh root
    val reps = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      Workload.warmTables(spark, dir, Tables)
      val canaryS = Workload.canary(spark, ctx.cpus)
      val root = Files.createTempDirectory(ctx.work, s"catalog-$i-")
      val e = bulkLoad(spark, dir, root)
      ((System.nanoTime() - t0) / 1e9, canaryS, root, e)
    }
    reps.init.foreach(r => Workload.deleteTree(r._3))
    val (_, _, root, engine) = reps.last
    val setupS = ctx.sessionS + Stats.median(reps.map(_._1))
    val canaryS = Stats.median(reps.map(_._2))

    try {
      val tm = System.nanoTime()
      val m = model(spark, dir)
      val modelS = (System.nanoTime() - tm) / 1e9
      val inputs = StreamInputs(
        custKeys = m.customers.keys.toIndexedSeq.sorted,
        edgeSources = m.edges.map(_._1).toIndexedSeq.distinct.sorted,
        baseEdges = m.edges.toSet,
        embKeys = m.emb.keys.toIndexedSeq.sorted,
        embBase = m.emb.map { case (k, v) => k -> v.clone() })
      val stream = new GqlStream(ctx.seed, inputs)
      val h = new Harness
      val bytesAfterSetup = Workload.dirBytes(root)

      var knnCount = 0
      var gensBuilt = 0
      var seenGens = hnswGenerations(root)
      var writeBytes = 0L
      var writePayload = 0L
      var writes = 0
      val persistMb = mutable.ArrayBuffer[Double]()
      val storageMb = mutable.ArrayBuffer[Double]()

      def exec(st: Stmt, regime: String): Outcome = {
        val traced = h.tracer.nonEmpty
        val before = if (traced && st.kind == "write") Workload.dirBytes(root) else 0L
        h.run(st.kind, regime) { p =>
          val ast = p("parse")(Parser.parse(st.text))
          val res = p("build")(engine.execStmt(ast.head))
          val rows: Seq[Row] = res.df.map(df => p("execute")(df.collect().toSeq)).getOrElse(Nil)
          () => {
            val err =
              if (res.status.startsWith("error")) Some(s"${st.text} -> ${res.status}")
              else m.check(st, res.status, rows)
            if (err.isEmpty) m(st)
            if (st.kind == "knn") {
              val gens = hnswGenerations(root)
              knnCount += 1
              if ((gens -- seenGens).nonEmpty) gensBuilt += 1
              seenGens = gens
            }
            if (traced) {
              if (st.kind == "write") {
                writes += 1
                writeBytes += Workload.dirBytes(root) - before
                writePayload += st.text.getBytes("UTF-8").length
              }
              persistMb += Workload.persistedMb(spark)
              storageMb += Workload.storageMb(spark)
            }
            err
          }
        }
      }

      val first = stream.firstPass()
      first.foreach(exec(_, "first"))

      // The first statement of each kind in a deck runs a second time at
      // once: that repeat is the resident regime, which finds whatever the
      // first run left cached.
      def decks(n: Int, regime: String, resident: String): Unit =
        (1 to n).foreach { _ =>
          val seen = mutable.Set[String]()
          stream.nextDeck().foreach { st =>
            exec(st, regime)
            if (seen.add(st.kind)) exec(st, resident)
          }
        }

      val units = Workload.units(ctx.seconds, DeckSeconds)
      if (!ctx.trace) decks(units, "window", "resident")
      else {
        // untraced, traced, untraced: the overhead estimate is not skewed
        // by warm-up that continues through the run
        val (before, traced, after) = Workload.traceSplit(units)
        decks(before, "window", "resident")
        val tracer = new Tracer(spark)
        tracer.start()
        h.tracer = Some(tracer)
        decks(traced, "traced", "traced_resident")
        h.tracer = None
        tracer.drain()
        decks(after, "window", "resident")
        val readMs = (1 to 10).map { _ =>
          val t0 = System.nanoTime(); engine.catalog.read(Db, "customer"); (System.nanoTime() - t0) / 1e6
        }
        Workload.writeTrace(ctx, name, tracer)
        val ls = tracer.layers(h.tracedKinds.toMap).filter(l => h.tracedRegimes.get(l.op).contains("traced"))
        val layers = mutable.LinkedHashMap[String, Double]()
        layers ++= Workload.genericLayers(ls, ctx.cpus)
        Kinds.foreach { k =>
          val kl = ls.filter(_.kind == k)
          def mean(f: OpLayers => Double): Double = if (kl.isEmpty) 0.0 else kl.map(f).sum / kl.size
          layers(s"gql.$k.wall_ms") = if (kl.isEmpty) 0.0 else Stats.median(kl.map(_.wallMs))
          layers(s"gql.$k.parse_ms") = mean(_.phaseMs.getOrElse("parse", 0.0))
          layers(s"gql.$k.build_ms") = mean(_.phaseMs.getOrElse("build", 0.0))
          Seq("analysis", "optimization", "planning").foreach(ph => layers(s"plan.$k.${ph}_ms") = mean(_.planMs(ph)))
          layers(s"sched.$k.jobs") = mean(_.jobs.toDouble)
          layers(s"sched.$k.stages") = mean(_.stages.toDouble)
          layers(s"sched.$k.idle_ms") = mean(_.idleMs)
          layers(s"exec.$k.run_ms") = mean(_.runMs)
        }
        layers("catalog.read_ms") = Stats.median(readMs)
        layers("catalog.write_bytes") = if (writes == 0) 0.0 else writeBytes.toDouble / writes
        layers("catalog.write_amp") = if (writePayload == 0) 0.0 else writeBytes.toDouble / writePayload
        layers("catalog.versions") = versionDirs(root).toDouble
        layers("catalog.space_amp") = Workload.dirBytes(root).toDouble / bytesAfterSetup
        layers("hnsw.generations_built") = gensBuilt.toDouble
        layers("hnsw.reuse_ratio") = if (knnCount == 0) 0.0 else 1.0 - gensBuilt.toDouble / knnCount
        layers("hnsw.recall_at_10") = if (m.recallN == 0) 0.0 else m.recallSum / m.recallN
        layers("persist.mb") = if (persistMb.isEmpty) 0.0 else persistMb.sum / persistMb.size
        layers("persist.peak_mb") = if (storageMb.isEmpty) 0.0 else storageMb.max
        layers("host.canary_s") = canaryS
        layers("cold.first_pass_s") = h.ms("first").sum / 1000.0
        layers("trace.overhead_pct") = Workload.overheadPct(h, "window", "traced", Kinds)
        return RunResult(Map.empty, layers.toMap, h.outcomes.size, h.outcomes.count(!_.ok),
          Map("failures" -> Workload.failuresByKind(h)), h.outcomes.toSeq)
      }

      val window = h.ms("window")
      val e2e = Map(
        "setup_s" -> setupS,
        "ops_per_s" -> window.size / (window.sum / 1000.0),
        "pass_s" -> Workload.passS(h, "window", Kinds),
        "resident_pass_s" -> Workload.passS(h, "resident", Kinds))
      val perKind = Kinds.map { k =>
        val xs = h.ms("window", k)
        val (tp, tv) = if (xs.isEmpty) (0.0, 0.0) else Stats.tail(xs)
        k -> Map("n" -> xs.size, "p50_ms" -> (if (xs.isEmpty) 0.0 else Stats.median(xs)),
          "tail_pct" -> tp, "tail_ms" -> tv)
      }.toMap
      RunResult(e2e, Map.empty, h.outcomes.size, h.outcomes.count(!_.ok), Map(
        "first_pass_s" -> h.ms("first").sum / 1000.0, "co_edges" -> inputs.baseEdges.size,
        "window_ops" -> window.size, "setup_reps_s" -> reps.map(_._1), "session_s" -> ctx.sessionS,
        "model_s" -> modelS, "per_kind" -> perKind, "canary_s" -> canaryS,
        "space_amp" -> Workload.dirBytes(root).toDouble / bytesAfterSetup,
        "knn" -> knnCount, "hnsw_generations_built" -> gensBuilt,
        "recall_at_10" -> (if (m.recallN == 0) 0.0 else m.recallSum / m.recallN),
        "failures" -> Workload.failuresByKind(h)), h.outcomes.toSeq)
    } finally Workload.deleteTree(root)
  }
}
