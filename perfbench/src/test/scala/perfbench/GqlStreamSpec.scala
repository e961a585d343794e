package perfbench

import org.scalatest.funsuite.AnyFunSuite

object StreamFixture {
  val custKeys: IndexedSeq[Long] = (0L until 200L)
  val edges: Set[(Long, Long)] = (0L until 199L).map(k => (k, k + 1)).toSet
  val emb: Map[Long, Array[Double]] =
    (0L until 50L).map(k => k -> Array.tabulate(64)(j => math.sin(k * 0.7 + j) * 0.3)).toMap
  def inputs: StreamInputs = StreamInputs(custKeys, edges.map(_._1).toIndexedSeq.sorted, edges,
    emb.keys.toIndexedSeq.sorted, emb)
  def stream(seed: Long, n: Int): Seq[Stmt] = {
    val g = new GqlStream(seed, inputs)
    g.firstPass() ++ Seq.fill(n)(g.next())
  }
}

class GqlStreamSpec extends AnyFunSuite {
  import StreamFixture._
  import Stmt._

  test("the same seed gives the same statement stream") {
    assert(stream(7, 2000).map(_.text) == stream(7, 2000).map(_.text))
    assert(stream(7, 200).map(_.text) != stream(8, 200).map(_.text))
  }

  test("the first pass holds one statement of each kind, in order") {
    assert(new GqlStream(1, inputs).firstPass().map(_.kind) == Kinds)
  }

  test("every statement parses, and numbers are plain decimals") {
    val exponent = "[0-9.][eE][-+]?[0-9]".r
    stream(3, 3000).foreach { st =>
      assert(exponent.findFirstIn(st.text).isEmpty, st.text)
      assert(graft.gql.Parser.parse(st.text).size == 1, st.text)
    }
    assert(GqlStream.dec(1.0e-7, 6) == "0.000000")
    assert(GqlStream.dec(-12345678.5, 2) == "-12345678.50")
  }

  test("mix: 35/15/15/15/20 in every deck of 20, every tenth write replaces a vector") {
    val g = new GqlStream(11, inputs)
    val decks = Seq.fill(100)(g.nextDeck())
    decks.foreach { d =>
      val n = d.groupBy(_.kind).map { case (k, v) => k -> v.size }
      assert(n == Map("lookup" -> 7, "scan" -> 3, "neighbor" -> 3, "knn" -> 3, "write" -> 4))
    }
    assert(decks.map(_.map(_.kind)).distinct.size > 50, "decks are shuffled")
    val xs = decks.flatten
    val writes = xs.filter(_.kind == "write")
    writes.zipWithIndex.foreach { case (w, i) => assert(w.isInstanceOf[SetVector] == (i % 10 == 9), s"$i: $w") }
  }

  test("edges the stream adds are new, and each is removed again") {
    val xs = stream(5, 5000)
    val live = scala.collection.mutable.Set[(Long, Long)]()
    xs.foreach {
      case AddEdge(s, d, _) =>
        assert(s != d && !edges.contains((s, d)) && !live.contains((s, d)))
        live += ((s, d))
      case RemoveEdge(s, d) => assert(live.remove((s, d)), s"removed an edge it never added: $s->$d")
      case _ => ()
    }
    assert(live.size <= GqlStream.MaxPendingEdges)
  }
}
