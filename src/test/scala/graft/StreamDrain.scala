package graft

import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.Span
import org.scalatest.time.SpanSugar._

/** Bounded streaming waits for the suites: every drive of a stream goes
  * through [[drain]], so a hung stream fails the test that drives it
  * instead of using up the whole run's time budget.
  */
trait StreamDrain extends TimeLimits {

  /** Interrupts a drive that overruns, so `failAfter` fails it. */
  protected implicit val signaler: Signaler = ThreadSignaler

  /** Bound on one drive of a stream; the suites' drives take seconds. */
  protected val driveLimit: Span = 120.seconds

  /** Process everything available, or fail this test by timeout. */
  protected def drain(q: StreamingQuery, limit: Span = driveLimit): Unit =
    failAfter(limit)(q.processAllAvailable())
}
