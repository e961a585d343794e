package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite {
  import Stmt._

  private val custSchema = StructType(Seq(StructField("key_i", LongType), StructField("key_s", StringType),
    StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType)))

  private def model(): GqlModel = {
    val cust = mutable.HashMap[Long, Map[String, Any]]()
    (1L to 20L).foreach { k =>
      cust(k) = Map("key_i" -> k, "key_s" -> null, "c_name" -> s"Customer#$k", "c_nationkey" -> (k % 5).toInt,
        "c_acctbal" -> k * 100.25, "c_mktsegment" -> "BUILDING")
    }
    val emb = mutable.HashMap[Long, Array[Double]]()
    (1L to 30L).foreach(k => emb(k) = Array(k.toDouble, 0.5 * k))
    new GqlModel(GqlMixed.CustomerCols, cust, mutable.HashSet((1L, 2L), (1L, 3L), (2L, 3L)), emb)
  }

  private def custRow(m: GqlModel, k: Long, bal: Option[Double] = None): Row = {
    val r = m.customers(k)
    new GenericRowWithSchema(GqlMixed.CustomerCols.map {
      case "c_acctbal" => bal.getOrElse(r("c_acctbal"))
      case c => r(c)
    }.toArray, custSchema)
  }

  private def nbRow(k: Long): Row = new GenericRowWithSchema(Array[Any](k, null),
    StructType(Seq(StructField("neighbor_i", LongType), StructField("neighbor_s", StringType))))

  private def embRow(m: GqlModel, k: Long, v: Option[Seq[Double]] = None): Row =
    new GenericRowWithSchema(Array[Any](k, null, v.getOrElse(m.emb(k).toSeq)),
      StructType(Seq(StructField("key_i", LongType), StructField("key_s", StringType),
        StructField("v", ArrayType(DoubleType)))))

  test("correct answers pass") {
    val m = model()
    assert(m.check(Lookup(4), "QUERY SUCCESS", Seq(custRow(m, 4))).isEmpty)
    assert(m.check(Scan("200.00", "500.00"), "QUERY SUCCESS", Seq(2L, 3L, 4L).map(custRow(m, _))).isEmpty)
    assert(m.check(Neighbor(1), "QUERY SUCCESS", Seq(nbRow(2), nbRow(3))).isEmpty)
    val q = Seq("3.1", "1.5")
    val top = m.exactTopK(Array(3.1, 1.5), 10)
    assert(m.check(Knn(q), "QUERY SUCCESS", top.map(embRow(m, _))).isEmpty)
    assert(m.recallN == 1 && m.recallSum == 1.0)
    assert(m.check(SetBalance(4, "1.50"), "UPSET SUCCESS", Nil).isEmpty)
    assert(m.check(RemoveEdge(1, 2), "REMOVE SUCCESS", Nil).isEmpty)
  }

  test("planted wrong answers fail") {
    val m = model()
    assert(m.check(Lookup(4), "QUERY SUCCESS", Seq(custRow(m, 4, Some(1.0)))).nonEmpty)
    assert(m.check(Lookup(4), "QUERY SUCCESS", Nil).nonEmpty)
    assert(m.check(Scan("200.00", "500.00"), "QUERY SUCCESS", Seq(2L, 3L).map(custRow(m, _))).nonEmpty)
    assert(m.check(Neighbor(1), "QUERY SUCCESS", Seq(nbRow(2))).nonEmpty)
    assert(m.check(Neighbor(1), "QUERY SUCCESS", Seq(nbRow(2), nbRow(3), nbRow(4))).nonEmpty)
    val top = m.exactTopK(Array(3.1, 1.5), 10)
    assert(m.check(Knn(Seq("3.1", "1.5")), "QUERY SUCCESS", top.take(9).map(embRow(m, _))).nonEmpty)
    assert(m.check(Knn(Seq("3.1", "1.5")), "QUERY SUCCESS",
      top.map(k => embRow(m, k, Some(Seq(0.0, 0.0))))).nonEmpty, "stale vector")
    assert(m.check(Knn(Seq("3.1", "1.5")), "QUERY SUCCESS", top.reverse.map(embRow(m, _))).nonEmpty, "order")
    assert(m.check(SetBalance(4, "1.50"), "error: boom", Nil).nonEmpty)
  }

  test("a KNN answer with the right shape but wrong members passes and lowers recall") {
    val m = model()
    val far = m.emb.keys.toSeq.sorted.takeRight(10)
    val q = Seq("1.0", "0.5")
    assert(m.check(Knn(q), "QUERY SUCCESS", far.sortBy(k => m.dist2(m.emb(k), Array(1.0, 0.5))).map(embRow(m, _))).isEmpty)
    assert(m.recallSum / m.recallN == 0.0)
  }

  test("read-your-writes: a lookup after an upset must show the new value") {
    val m = model()
    val before = custRow(m, 4)
    m(SetBalance(4, "77.70"))
    assert(m.check(Lookup(4), "QUERY SUCCESS", Seq(before)).nonEmpty)
    assert(m.check(Lookup(4), "QUERY SUCCESS", Seq(custRow(m, 4, Some(77.7)))).isEmpty)
    m(AddEdge(3, 1, 2))
    assert(m.outNeighbors(3) == Set(1L))
    m(RemoveEdge(3, 1))
    assert(m.outNeighbors(3).isEmpty)
  }

  test("the harness counts a planted wrong result and a thrown error as failed") {
    val m = model()
    val h = new Harness
    h.run("lookup", "window")(_ => () => m.check(Lookup(4), "QUERY SUCCESS", Seq(custRow(m, 4, Some(-1.0)))))
    h.run("lookup", "window")(_ => () => m.check(Lookup(4), "QUERY SUCCESS", Seq(custRow(m, 4))))
    h.run("scan", "window")(_ => throw new IllegalStateException("engine error"))
    assert(h.outcomes.size == 3)
    assert(h.outcomes.map(_.ok) == Seq(false, true, false))
    assert(h.ms("window").size == 1, "failed operations carry no latency sample")
  }
}
