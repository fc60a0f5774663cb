package graft.streaming

import graft.api.EventStore
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time analytics over the live event log: windowed aggregation
  * with watermarks and custom stateful sessionization — the streaming
  * counterparts of the batch `events_tumbling` / `events_sessionize`
  * operators. (The reference itself has no event-time windows — its
  * "watermark" is a confirmation frontier — so these belong to the
  * engine's analytics surface, not parity.)
  */
object EventTimeAggs {

  /** Tumbling-window counts per event_name over the streaming log.
    * `lateness` bounds state: windows older than the watermark are
    * finalized and their state dropped — required for unbounded runs.
    */
  def tumblingCounts(
      es: EventStore,
      windowLength: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame =
    GraftEventSource.log(es)
      .withColumn("event_time", timestamp_micros(expr("timestamp_ns div 1000")))
      .withWatermark("event_time", lateness)
      .groupBy(window(col("event_time"), windowLength), col("event_name"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_name"), col("n"))

  /** Exactly-once view of an at-least-once event feed: duplicate
    * deliveries of the same `event_id` are dropped with BOUNDED state
    * (`dropDuplicatesWithinWatermark`) — the state store only has to
    * remember keys newer than `watermark − horizon`, so an unbounded
    * redelivering stream cannot grow state without bound. That is the
    * property that matters when the log is 100 TB and redelivery is
    * routine: the reference's `has_seen` cursor
    * (`crates/sierradb-cluster/src/subscription.rs`) gives
    * per-subscription exactly-once; this gives the same guarantee to
    * any downstream consumer of a merged / re-sent feed, sized by the
    * redelivery window instead of the key universe. `horizon` must be
    * at least the worst-case gap between a delivery and its redelivery
    * (plain `dropDuplicates` would be exact forever, but its state is
    * O(all keys ever) — the shape that dies at scale).
    */
  def dedupDeliveries(
      events: DataFrame,
      horizon: String = "10 minutes"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("timestamp_ns div 1000")))
      .withWatermark("event_time", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream event-time interval join: every `leftName` event is
    * enriched with ALL `rightName` events of the same stream whose time
    * falls in `[left_time, left_time + reach]` — the streaming
    * counterpart of the batch as-of/range joins (all matches in the
    * window rather than the nearest one). Both sides carry watermarks
    * and the join condition bounds right-time relative to left-time, so
    * Spark's stream-stream join state holds only rows inside
    * `reach + lateness` of the frontier — an unbounded pair of feeds
    * joins in bounded memory, which is what lets the operator run
    * forever against a 100 TB log. Inner join ⇒ the emitted match set
    * is exact and deterministic under any micro-batching.
    *
    * `leftEvents`/`rightEvents` must be two INDEPENDENT streaming
    * readers of the log (each gets its own watermark; reusing one
    * lineage for both sides is rejected by Spark).
    */
  def intervalJoin(
      leftEvents: DataFrame,
      rightEvents: DataFrame,
      leftName: String,
      rightName: String,
      reach: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame =
    intervalJoinTyped(leftEvents, rightEvents, leftName, rightName,
      reach, lateness, joinType = "inner")

  /** LEFT-OUTER stream-stream interval join: every `leftName` event is
    * enriched like [[intervalJoin]], and ALSO emits exactly once with a
    * NULL right side if no match arrives within `reach` — but only
    * once the watermark passes `left_time + reach` (the row provably
    * cannot match anymore), so NULL results trail the frontier by
    * `reach + lateness` while state stays bounded exactly as in the
    * inner form. On a FINITE replay the rows inside the final
    * `reach + lateness` of the corpus frontier would never flush;
    * the gated query drives the watermark past every real window with
    * a far-future sentinel so the complete NULL set emits
    * deterministically in the no-data eviction batch.
    */
  def intervalJoinLeft(
      leftEvents: DataFrame,
      rightEvents: DataFrame,
      leftName: String,
      rightName: String,
      reach: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame =
    intervalJoinTyped(leftEvents, rightEvents, leftName, rightName,
      reach, lateness, joinType = "left_outer")

  private def intervalJoinTyped(
      leftEvents: DataFrame,
      rightEvents: DataFrame,
      leftName: String,
      rightName: String,
      reach: String,
      lateness: String,
      joinType: String): DataFrame = {
    def side(df: DataFrame, name: String, prefix: String) =
      df.where(col("event_name") === name)
        .withColumn(s"${prefix}_time",
          timestamp_micros(expr("timestamp_ns div 1000")))
        .select(col("stream_id").as(s"${prefix}_stream"),
          col("stream_version").as(s"${prefix}_version"),
          col(s"${prefix}_time"))
        .withWatermark(s"${prefix}_time", lateness)
    val l = side(leftEvents, leftName, "left")
    val r = side(rightEvents, rightName, "right")
    l.join(r,
        col("left_stream") === col("right_stream") &&
          col("right_time") >= col("left_time") &&
          col("right_time") <= col("left_time") + expr(s"INTERVAL $reach"),
        joinType)
      .select(col("left_stream").as("stream_id"),
        col("left_version"), col("right_version"))
  }

  final case class SessionInput(stream_id: String, timestamp_ns: Long)
  final case class SessionState(start_ns: Long, last_ns: Long, events: Long)
  final case class ClosedSession(
      stream_id: String, start_ns: Long, end_ns: Long, events: Long)

  /** Gap-based sessionization as a custom stateful operator
    * (flatMapGroupsWithState): emits a session when `gapNs` of
    * inactivity passes within a stream. State is one (start, last,
    * count) triple per stream — O(streams), checkpointed. Sessions
    * close on the in-data gap; `idleFlushMs` additionally flushes the
    * trailing session of a stream that has gone quiet (no new events
    * for that long in PROCESSING time) via a state timeout — without
    * it a stream that stops emitting holds its last session open
    * forever.
    */
  def sessionize(
      es: EventStore,
      gapNs: Long = 30L * 60 * 1000000000L,
      idleFlushMs: Option[Long] = None): Dataset[ClosedSession] = {
    val spark = es.spark
    import spark.implicits._
    sessionizeFeed(
      GraftEventSource.log(es)
        .select(col("stream_id"), col("timestamp_ns"))
        .as[SessionInput],
      gapNs, idleFlushMs)
  }

  /** [[sessionize]] over a caller-prepared feed. Time units are
    * whatever the caller put in `timestamp_ns` — the gate feeds µs
    * (`timestamp_ns div 1000`) so the external oracle, whose parquet
    * reader truncates TIMESTAMP(NANOS) to µs, sees the exact same gap
    * arithmetic. The trailing session of each stream stays open (never
    * emitted) until more data closes it — or, with `idleFlushMs` set,
    * until the stream has produced nothing for that long in processing
    * time: each update arms a per-group processing-time timeout, and
    * an expired group emits its open session and drops its state (the
    * `hasTimedOut` branch), so idle streams neither hold sessions open
    * forever nor leak state. The gated query leaves the flush OFF
    * (its oracle recounts only gap-closed sessions); timeouts fire
    * when a later micro-batch runs, which in continuous ingestion is
    * always soon.
    */
  def sessionizeFeed(
      events: Dataset[SessionInput],
      gapNs: Long,
      idleFlushMs: Option[Long] = None): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.stream_id)
      .flatMapGroupsWithState(
        OutputMode.Append,
        if (idleFlushMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout)(
        (sid: String, rows: Iterator[SessionInput],
            state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val out = state.getOption
              .map(s => ClosedSession(sid, s.start_ns, s.last_ns, s.events))
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(_.timestamp_ns)
            val closed = collection.mutable.ArrayBuffer.empty[ClosedSession]
            var cur = state.getOption
            sorted.foreach { r =>
              cur match {
                case Some(s) if r.timestamp_ns - s.last_ns > gapNs =>
                  closed += ClosedSession(sid, s.start_ns, s.last_ns, s.events)
                  cur = Some(SessionState(r.timestamp_ns, r.timestamp_ns, 1))
                case Some(s) =>
                  // out-of-order arrival ACROSS micro-batches lands
                  // here with r.timestamp_ns < s.last_ns (the per-batch
                  // sort only orders within a batch): the event joins
                  // the open session but must not REGRESS its bounds,
                  // or a later in-order event would measure its gap
                  // from the regressed time and falsely split
                  cur = Some(SessionState(
                    math.min(s.start_ns, r.timestamp_ns),
                    math.max(s.last_ns, r.timestamp_ns), s.events + 1))
                case None =>
                  cur = Some(SessionState(r.timestamp_ns, r.timestamp_ns, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              idleFlushMs.foreach(state.setTimeoutDuration)
            }
            closed.iterator
          }
        })
  }
}
