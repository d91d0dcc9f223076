package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark process: the session, the tracer, the op log and the
  * correctness tally shared by every workload.
  *
  * A workload calls [[write]] or [[read]] around each operation the
  * user would issue; the time of the body is the op's latency. Answers
  * are checked after the op returns (outside its time) through
  * [[check]]. */
final class Ctx(val spark: SparkSession, val tracer: Tracer) {
  import Ctx._

  val ops = mutable.ArrayBuffer.empty[Op]
  var attempted = 0L
  var failed = 0L
  /** Set to false by the first wrong answer or failed op. */
  var correct = true
  /** True during the timed loop: only its ops are logged and counted. */
  var timing = false

  def write[T](call: String, rows: Long)(body: => T): T = op(Write, call, rows)(body)
  def read[T](call: String, rows: Long = 0L)(body: => T): T = op(Read, call, rows)(body)

  private def op[T](kind: Kind, call: String, rows: Long)(body: => T): T = {
    if (timing) attempted += 1
    val t0 = System.nanoTime()
    val r = try tracer.span(call)(body)
    catch {
      case NonFatal(e) =>
        if (timing) failed += 1
        correct = false
        throw new OpFailed(call, e)
    }
    if (timing) ops += Op(kind, call, (System.nanoTime() - t0) / 1e6, rows)
    r
  }

  /** Record an answer check; a wrong answer fails its op. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      if (timing) failed += 1
      correct = false
      System.err.println(s"[perfbench] WRONG ANSWER: $what")
    }

  /** Time a call that is part of the set-up or a probe, not a user op. */
  def probe[T](call: String)(body: => T): T = tracer.span(call)(body)
}

object Ctx {
  sealed trait Kind
  case object Write extends Kind
  case object Read extends Kind

  final case class Op(kind: Kind, call: String, ms: Double, rows: Long)

  final class OpFailed(call: String, cause: Throwable)
      extends RuntimeException(s"$call failed: ${cause.getMessage}", cause)
}
