package graft.streaming

import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.duration._

import org.apache.spark.sql.streaming.StreamingQuery

/** A streaming query that did not process its available input within
  * the bound; the query was stopped. `leg` names the caller.
  */
final class DrainTimeoutException(val leg: String, val bound: FiniteDuration,
    cause: Throwable = null)
    extends RuntimeException(
      s"$leg: the streaming query did not process its available input " +
        s"within $bound and was stopped", cause)

/** `processAllAvailable` with a bound. Spark's own wait has none: a
  * source that never reports "no new data" (or a stalled batch) would
  * hang the caller for good.
  */
object Drain {

  /** Fixed bound for the gated and benchmark drains: a hung drain
    * fails its own leg after this, not the whole run. */
  val Bound: FiniteDuration = 20.minutes

  private lazy val timer: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-drain-timeout")
      t.setDaemon(true)
      t
    }

  /** Process everything available to `q`, or stop `q` once `bound`
    * has passed and throw a [[DrainTimeoutException]] naming `leg`.
    * Spark's wait returns once the query is no longer active, so the
    * stop also releases it.
    */
  def processAllAvailable(q: StreamingQuery, leg: String,
      bound: FiniteDuration = Bound): Unit = {
    val timedOut = new AtomicBoolean(false)
    val stopper = timer.schedule(
      (() => { timedOut.set(true); q.stop() }): Runnable,
      bound.toMillis, TimeUnit.MILLISECONDS)
    var failure: Throwable = null
    try q.processAllAvailable()
    catch { case e: Throwable => failure = e }
    finally stopper.cancel(false)
    if (timedOut.get()) throw new DrainTimeoutException(leg, bound, failure)
    if (failure != null) throw failure
  }
}
