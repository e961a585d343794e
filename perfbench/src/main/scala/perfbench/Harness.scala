package perfbench

import scala.collection.mutable

/** One executed operation: its kind, the regime it ran in, its latency and
  * the reason it failed, if it did. */
final case class Outcome(kind: String, regime: String, ms: Double, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** Named sub-steps of an operation; each becomes a span when tracing. */
trait Phases {
  def apply[T](name: String)(f: => T): T
}

/** Times operations one at a time (a closed loop with one client), records
  * their spans when a [[Tracer]] is attached, and runs each operation's
  * correctness check after the clock has stopped. Every attempt is kept:
  * an exception or a failed check is an outcome, never a retry. */
final class Harness {
  var tracer: Option[Tracer] = None
  val outcomes = mutable.ArrayBuffer[Outcome]()
  /** op id -> kind, for the traced ops */
  val tracedKinds = mutable.LinkedHashMap[Long, String]()
  /** op id -> regime, for the traced ops */
  val tracedRegimes = mutable.HashMap[Long, String]()
  private var logged = 0

  /** Run `body`, which performs the operation and returns its check. The
    * latency covers `body` only; the check runs untimed. */
  def run(kind: String, regime: String)(body: Phases => (() => Option[String])): Outcome = {
    val tr = tracer
    val opId = tr.map(_.newId()).getOrElse(0L)
    val opSpan = tr.map(_.newId()).getOrElse(0L)
    tr.foreach(_.tagJobs(opId))
    val phases = new Phases {
      def apply[T](name: String)(f: => T): T = tr match {
        case None => f
        case Some(t) =>
          val a = Clock.nowMs
          try f finally t.record(Span(t.newId(), opSpan, opId, name, a, Clock.nowMs))
      }
    }
    val t0 = Clock.nowMs
    val checked: Either[String, () => Option[String]] =
      try Right(body(phases))
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t1 = Clock.nowMs
    tr.foreach { t =>
      t.tagJobs(0)
      t.record(Span(opSpan, 0L, opId, "op", t0, t1))
      tracedKinds(opId) = kind
      tracedRegimes(opId) = regime
    }
    val error = checked match {
      case Left(msg) => Some(msg)
      case Right(check) =>
        try check()
        catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    error.foreach { msg =>
      if (logged < 20) System.err.println(s"[perfbench] FAILED $kind ($regime): ${msg.take(400)}")
      logged += 1
    }
    val o = Outcome(kind, regime, t1 - t0, error)
    outcomes += o
    o
  }

  def ms(regime: String, kind: String = ""): Seq[Double] =
    outcomes.collect { case o if o.regime == regime && (kind.isEmpty || o.kind == kind) && o.ok => o.ms }.toSeq
}
