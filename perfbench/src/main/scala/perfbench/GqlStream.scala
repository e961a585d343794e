package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

/** One generated GQL statement. `text` is exactly what the engine receives;
  * the fields are what the model needs to predict its answer. */
sealed trait Stmt {
  def kind: String
  def text: String
}

object Stmt {
  val Db = "bench"
  val Kinds: Seq[String] = Seq("lookup", "scan", "neighbor", "knn", "write")

  final case class Lookup(key: Long) extends Stmt {
    def kind = "lookup"
    def text = s"{query: 'customer', in: '$Db', where: {id: $key}};"
  }
  /** c_acctbal in [lo, hi) */
  final case class Scan(lo: String, hi: String) extends Stmt {
    def kind = "scan"
    def text = s"{query: 'customer', in: '$Db', where: {$$and: [{c_acctbal: {$$gte: $lo}}, {c_acctbal: {$$lt: $hi}}]}};"
  }
  final case class Neighbor(key: Long) extends Stmt {
    def kind = "neighbor"
    def text = s"{query: 'co', in: '$Db', where: {id: $key, ->: *, neighbor: 1}};"
  }
  final case class Knn(vec: Seq[String]) extends Stmt {
    def kind = "knn"
    def text = s"{query: 'emb', in: '$Db', where: {v: {limit: ${GqlStream.K}, $$near: [${vec.mkString(", ")}]}}};"
  }
  final case class SetBalance(key: Long, bal: String) extends Stmt {
    def kind = "write"
    def text = s"{upset: 'customer', property: {c_acctbal: $bal}, where: {id: $key}};"
  }
  final case class AddEdge(src: Long, dst: Long, w: Long) extends Stmt {
    def kind = "write"
    def text = s"{upset: 'co', edge: [[$src, ->: {w: $w}, $dst]]};"
  }
  final case class RemoveEdge(src: Long, dst: Long) extends Stmt {
    def kind = "write"
    def text = s"{remove: 'co', edge: [[$src, ->, $dst]]};"
  }
  final case class SetVector(key: Long, vec: Seq[String]) extends Stmt {
    def kind = "write"
    def text = s"{upset: 'emb', vertex: [[$key, {v: [${vec.mkString(", ")}]}]]};"
  }
}

/** What the statement generator may look at: the loaded data, read once
  * from the source tables. */
final case class StreamInputs(
  custKeys: IndexedSeq[Long],
  edgeSources: IndexedSeq[Long],
  baseEdges: collection.Set[(Long, Long)],
  embKeys: IndexedSeq[Long],
  embBase: collection.Map[Long, Array[Double]])

/** The gql_mixed statement stream: a pure function of the seed and the
  * loaded data. Mix: 35% point lookup, 15% range scan, 15% 1-hop neighbor,
  * 15% KNN top-10, 20% writes, exact in every block of 20. Every tenth
  * write replaces an `emb` vector (which invalidates the HNSW index); the
  * others alternate between a
  * `customer` balance upset and a `co` edge write, where edges the stream
  * created are removed again so the group size stays flat. Numbers are
  * written as plain decimals: the GQL lexer has no exponent form. */
final class GqlStream(seed: Long, in: StreamInputs) {
  import GqlStream._
  import Stmt._

  private val rng = new java.util.Random(seed)
  private var writes = 0
  private val pending = mutable.Queue[(Long, Long)]()
  private val recentKeys = mutable.Queue[Long]()
  private val deck = mutable.Queue[String]()

  private def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))

  private def noisyVector(): Seq[String] = {
    val base = in.embBase(pick(in.embKeys))
    base.toSeq.map(x => dec(x + rng.nextGaussian() * 0.05, 6))
  }

  def lookup(): Stmt =
    if (recentKeys.nonEmpty && rng.nextDouble() < 0.3) Lookup(recentKeys(rng.nextInt(recentKeys.size)))
    else Lookup(pick(in.custKeys))

  def scan(): Stmt = {
    val lo = -1000.0 + rng.nextDouble() * 10890.0
    Scan(dec(lo, 2), dec(lo + ScanWidth, 2))
  }

  def neighbor(): Stmt = Neighbor(pick(in.edgeSources))

  def knn(): Stmt = Knn(noisyVector())

  def setBalance(): Stmt = {
    val k = pick(in.custKeys)
    recentKeys.enqueue(k)
    if (recentKeys.size > 16) recentKeys.dequeue()
    SetBalance(k, dec(-999.99 + rng.nextDouble() * 10999.98, 2))
  }

  def write(): Stmt = {
    val w = writes
    writes += 1
    if (w % 10 == 9) SetVector(pick(in.embKeys), noisyVector())
    else if (w % 2 == 0) setBalance()
    else if (pending.size >= MaxPendingEdges) {
      val (s, d) = pending.dequeue()
      RemoveEdge(s, d)
    } else {
      var e = (pick(in.custKeys), pick(in.custKeys))
      while (e._1 == e._2 || in.baseEdges.contains(e) || pending.contains(e))
        e = (pick(in.custKeys), pick(in.custKeys))
      pending.enqueue(e)
      AddEdge(e._1, e._2, 1 + rng.nextInt(3))
    }
  }

  /** One statement of each kind, in [[Stmt.Kinds]] order. */
  def firstPass(): Seq[Stmt] = Seq(lookup(), scan(), neighbor(), knn(), setBalance())

  /** Kinds are dealt from shuffled decks of [[Deck]], so every 20
    * statements hold the exact mix and a run's throughput does not swing
    * with how many slow kinds its seed happened to draw. */
  def next(): Stmt = {
    if (deck.isEmpty) deck ++= shuffled(Deck)
    deck.dequeue() match {
      case "lookup" => lookup()
      case "scan" => scan()
      case "neighbor" => neighbor()
      case "knn" => knn()
      case _ => write()
    }
  }

  /** The next whole deck of statements. */
  def nextDeck(): Seq[Stmt] = Seq.fill(Deck.size)(next())

  private def shuffled(xs: Seq[String]): Seq[String] = {
    val a = xs.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}

object GqlStream {
  val K = 10
  val ScanWidth = 110.0
  val MaxPendingEdges = 2
  /** One deck of kinds: 35% lookup, 15% scan, 15% neighbor, 15% KNN, 20% write. */
  val Deck: Seq[String] = Seq.fill(7)("lookup") ++ Seq.fill(3)("scan") ++ Seq.fill(3)("neighbor") ++
    Seq.fill(3)("knn") ++ Seq.fill(4)("write")

  /** `x` rounded to `places` decimals, never in exponent form. */
  def dec(x: Double, places: Int): String =
    java.math.BigDecimal.valueOf(x).setScale(places, java.math.RoundingMode.HALF_UP).toPlainString
}

/** The benchmark's own model of the gql_mixed catalog: the source rows plus
  * every write issued so far. It predicts each query's answer. */
final class GqlModel(
  val customerCols: Seq[String],
  val customers: mutable.Map[Long, Map[String, Any]],
  val edges: mutable.Set[(Long, Long)],
  val emb: mutable.Map[Long, Array[Double]]) {
  import Stmt._

  private val out = mutable.HashMap[Long, mutable.Set[Long]]()
  edges.foreach { case (s, d) => out.getOrElseUpdate(s, mutable.HashSet[Long]()) += d }

  var recallSum = 0.0
  var recallN = 0

  /** Apply a write the engine acknowledged. */
  def apply(st: Stmt): Unit = st match {
    case SetBalance(k, bal) =>
      customers.get(k).foreach(r => customers(k) = r.updated("c_acctbal", bal.toDouble))
    case AddEdge(s, d, _) =>
      edges += ((s, d)); out.getOrElseUpdate(s, mutable.HashSet[Long]()) += d
    case RemoveEdge(s, d) =>
      edges -= ((s, d)); out.get(s).foreach(_ -= d)
    case SetVector(k, v) => emb(k) = v.map(_.toDouble).toArray
    case _ => ()
  }

  def outNeighbors(k: Long): Set[Long] = out.get(k).map(_.toSet).getOrElse(Set.empty)

  def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  def exactTopK(q: Array[Double], k: Int): Seq[Long] =
    emb.toSeq.sortBy { case (id, v) => (dist2(v, q), id) }.take(k).map(_._1)

  /** None when `rows` (or the write's `status`) is what the model predicts. */
  def check(st: Stmt, status: String, rows: Seq[Row]): Option[String] = st match {
    case Lookup(k) =>
      customers.get(k) match {
        case None => if (rows.isEmpty) None else Some(s"lookup $k: ${rows.size} rows for a missing key")
        case Some(want) =>
          if (rows.size != 1) Some(s"lookup $k: ${rows.size} rows, want 1")
          else {
            val r = rows.head
            customerCols.find(c => r.getAs[Any](c) != want(c))
              .map(c => s"lookup $k: $c = ${r.getAs[Any](c)}, want ${want(c)}")
          }
      }
    case Scan(lo, hi) =>
      val (l, h) = (lo.toDouble, hi.toDouble)
      val want = customers.collect { case (k, r) if inRange(r("c_acctbal"), l, h) => k }.toSet
      val got = rows.map(_.getAs[Long]("key_i")).toSet
      if (rows.size == want.size && got == want) None
      else Some(s"scan [$lo, $hi): ${rows.size} rows (${got.size} keys), want ${want.size}")
    case Neighbor(k) =>
      val want = outNeighbors(k)
      val got = rows.map(_.getAs[Long]("neighbor_i")).toSet
      if (rows.size == want.size && got == want) None
      else Some(s"neighbor $k: got ${got.toSeq.sorted.take(8)} (${rows.size}), want ${want.toSeq.sorted.take(8)} (${want.size})")
    case Knn(vec) =>
      val q = vec.map(_.toDouble).toArray
      val k = math.min(GqlStream.K, emb.size)
      if (rows.size != k) Some(s"knn: ${rows.size} rows, want $k")
      else {
        val got = rows.map(r => (r.getAs[Long]("key_i"), r.getAs[collection.Seq[Double]]("v")))
        val wrong = got.find { case (id, v) => !emb.get(id).exists(_.sameElements(v)) }
        val ds = got.map { case (id, _) => emb.get(id).map(dist2(_, q)).getOrElse(Double.NaN) }
        if (wrong.nonEmpty) Some(s"knn: row ${wrong.get._1} is not a current emb vector")
        else if (ds.zip(ds.drop(1)).exists { case (a, b) => a > b }) Some("knn: rows not ordered by distance")
        else {
          val exact = exactTopK(q, k).toSet
          recallSum += got.count { case (id, _) => exact(id) }.toDouble / k
          recallN += 1
          None
        }
      }
    case _ =>
      val want = if (st.isInstanceOf[RemoveEdge]) "REMOVE SUCCESS" else "UPSET SUCCESS"
      if (status == want) None else Some(s"${st.text} -> $status")
  }

  private def inRange(v: Any, lo: Double, hi: Double): Boolean = v match {
    case d: Double => d >= lo && d < hi
    case _ => false
  }
}
