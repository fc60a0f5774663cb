package graft.ops

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** Metrics observed inside a job that already runs (`Dataset.observe`),
  * read back with a bound. The observation normally lands within
  * milliseconds of the action that carried it; if it has not arrived
  * after [[Wait]], the same aggregates are recomputed from `base` —
  * one extra scan, never a hang and never a wrong value. Every such
  * recomputation is counted in [[fallbacks]], so a test can tell a
  * silent per-call 60 s fallback from the observed path.
  */
object Observed {

  val Wait: FiniteDuration = 60.seconds

  /** Times the bounded wait gave up and recomputed from lineage. */
  private[ops] val fallbacks = new AtomicLong()

  /** The observed row of `obs`, whose action has already run: one
    * value per aggregate of `aggs`, in order. `base` and `aggs` must
    * be the frame and aggregates the observation was declared with.
    */
  def row(obs: Observation, base: DataFrame, aggs: Seq[Column]): Row =
    try Await.result(obs.future, Wait)
    catch { case _: TimeoutException =>
      fallbacks.incrementAndGet()
      base.agg(aggs.head, aggs.tail: _*).head()
    }
}
