package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** The timed operations of one run, one client thread, one in flight.
  *
  * An operation that throws, or whose output check fails, counts as
  * failed and leaves no timing sample: a failure can never read as a
  * fast success.
  */
final class Ops(trace: Option[Trace]) {
  import Ops._

  private val done = mutable.ArrayBuffer.empty[Op]

  /** The pass the next operations belong to; pass 0 is the run's
    * first, cold, pass. */
  var pass: Int = 0

  /** Runs `body` (which returns whether its output checked out) as one
    * operation of `kind`, inside a span when tracing. */
  def run(kind: String, name: String, layer: String)(body: => Boolean): Boolean = {
    val t0 = System.nanoTime()
    val ok =
      try trace.fold(body)(_.span(name, layer)(body))
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $kind $name FAILED: $e")
        false
      }
    val secs = (System.nanoTime() - t0) / 1e9
    if (!ok) System.err.println(s"[perfbench] $kind $name did not check out")
    done += Op(kind, name, layer, pass, secs, ok)
    ok
  }

  /** Marks the last operation failed (its output check ran after it). */
  def failLast(why: String): Unit = if (done.nonEmpty) {
    System.err.println(s"[perfbench] ${done.last.kind} ${done.last.name} failed its check: $why")
    done(done.size - 1) = done.last.copy(ok = false)
  }

  def all: Seq[Op] = done.toSeq
  def attempted: Int = done.size
  def failed: Int = done.count(!_.ok)

  /** Wall times of the operations of `kind` that succeeded, in passes
    * from `fromPass` on. */
  def samples(kind: String, fromPass: Int = 0): Seq[Double] =
    done.filter(o => o.kind == kind && o.ok && o.pass >= fromPass).map(_.seconds).toSeq
}

object Ops {
  final case class Op(kind: String, name: String, layer: String, pass: Int, seconds: Double,
      ok: Boolean)
}
