package graft.streaming

import java.nio.file.Files

import graft.api.EventStore
import graft.core.EventInput
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class EventTimeAggsSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val HourNs = 3600L * 1000000000L

  test("streaming tumbling window with watermark aggregates per hour") {
    val es = EventStore.open(
      spark, tempDir("graft-eta-").toString, 4)
    val base = 1700000000000L // ms
    // 3 events in hour H, 2 in hour H+1, mixed names
    es.appendMany(Seq(
      EventInput("w", "A", timestampMs = Some(base)),
      EventInput("w", "A", timestampMs = Some(base + 60000)),
      EventInput("w", "B", timestampMs = Some(base + 120000)),
      EventInput("w", "A", timestampMs = Some(base + 3600000)),
      EventInput("w", "B", timestampMs = Some(base + 3660000))))

    val q = EventTimeAggs.tumblingCounts(es, "1 hour", "5 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("eta_tumbling").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("eta_tumbling")
        .orderBy("window_start", "event_name").collect()
      val counts = rows.map(r =>
        (r.getAs[java.sql.Timestamp]("window_start").getTime,
          r.getAs[String]("event_name"), r.getAs[Long]("n"))).toSeq
      val h0 = base - base % 3600000
      val h1 = h0 + 3600000
      assert(counts == Seq((h0, "A", 2L), (h0, "B", 1L), (h1, "A", 1L), (h1, "B", 1L)))
    } finally q.stop()
  }

  test("append-mode tumbling: a window is emitted once watermark REACHES its end") {
    // pins Spark's close boundary (watermark >= window end ⇒ emitted) —
    // the stream_trending oracle's kept-window predicate mirrors this
    val es = EventStore.open(
      spark, tempDir("graft-eta-append-").toString, 4)
    val base = 1700000000000L
    val h0 = base - base % 3600000
    es.appendMany(Seq(
      EventInput("w", "A", timestampMs = Some(h0 + 1000)),
      // max event time h0+1h+5min, lateness 5min ⇒ watermark EXACTLY h0+1h
      EventInput("w", "B", timestampMs = Some(h0 + 3600000 + 300000))))
    val q = EventTimeAggs.tumblingCounts(es, "1 hour", "5 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("eta_append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("eta_append").collect().map(r =>
        (r.getAs[java.sql.Timestamp]("window_start").getTime,
          r.getAs[String]("event_name"), r.getAs[Long]("n"))).toSet
      assert(rows == Set((h0, "A", 1L)),
        s"boundary window must close at watermark == end: $rows")
    } finally q.stop()
  }

  test("tumbling counts read each event once while rollovers merge its files") {
    val es = EventStore.open(spark, tempDir("graft-eta-roll-").toString, 1)
    val h0 = 1700000000000L - 1700000000000L % 3600000
    def append(from: Int, n: Int): Unit = (from until from + n).foreach(i =>
      assert(es.append(EventInput("roll", "A", timestampMs = Some(h0 + i * 1000L))).isRight))
    // 20 one-event files: 16 merge into one; then 12 more fill the next
    // run of 16, whose merged file holds 4 events already read
    append(0, 20)
    es.awaitRollover()
    val q = EventTimeAggs.tumblingCounts(es, "1 hour", "5 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("eta_rollover").start()
    try {
      q.processAllAvailable()
      append(20, 12)
      es.awaitRollover()
      q.processAllAvailable()
      assert(es.storeInfo("rollovers") == 2L)
      val n = spark.table("eta_rollover").collect().map(_.getAs[Long]("n"))
      assert(n.toSeq == Seq(32L))
    } finally q.stop()
  }

  test("stateful sessionizer closes sessions on gap, keeps open ones in state") {
    val es = EventStore.open(
      spark, tempDir("graft-sess-").toString, 4)
    val base = 1700000000000L
    es.appendMany(Seq(
      // stream s1: two sessions separated by a 2-hour gap
      EventInput("sess-1", "E", timestampMs = Some(base)),
      EventInput("sess-1", "E", timestampMs = Some(base + 60000)),
      EventInput("sess-1", "E", timestampMs = Some(base + 2 * 3600000)),
      // stream s2: one session (still open — never emitted)
      EventInput("sess-2", "E", timestampMs = Some(base))))

    val q = EventTimeAggs.sessionize(es)
      .toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("eta_sessions").start()
    try {
      q.processAllAvailable()
      val closed = spark.table("eta_sessions").collect()
      // only the FIRST s1 session is closed (the gap closed it);
      // the second s1 session and s2's are still open state
      assert(closed.length == 1)
      val s = closed(0)
      assert(s.getAs[String]("stream_id") == "sess-1")
      assert(s.getAs[Long]("events") == 2L)
      assert(s.getAs[Long]("start_ns") == base * 1000000L)
      assert(s.getAs[Long]("end_ns") == (base + 60000) * 1000000L)
    } finally q.stop()
  }

  test("dedupDeliveries collapses an at-least-once doubled feed to exactly once") {
    val es = EventStore.open(
      spark, tempDir("graft-sdd-").toString, 4)
    val base = 1700000000000L
    es.appendMany((0 until 20).map(i =>
      EventInput(s"dd-${i % 3}", s"E$i", timestampMs = Some(base + i * 1000L))))

    def feed() = spark.readStream
      .schema(graft.core.EventSchema.schema)
      .option("basePath", s"${es.root}/events")
      .parquet(s"${es.root}/events")
    // every event delivered twice; horizon comfortably covers the feed
    val q = EventTimeAggs.dedupDeliveries(feed().unionAll(feed()), "1 hour")
      .select("event_id", "stream_id", "stream_version")
      .writeStream.outputMode("append").format("memory")
      .queryName("eta_dedup").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("eta_dedup").collect()
      // exactly once: 20 distinct events, no event_id twice, and the
      // per-stream version sequences are the complete gapless set
      assert(rows.length == 20)
      assert(rows.map(_.getAs[String]("event_id")).distinct.length == 20)
      val perStream = rows.groupBy(_.getAs[String]("stream_id"))
        .view.mapValues(_.map(_.getAs[Long]("stream_version")).sorted.toSeq).toMap
      assert(perStream == Map(
        "dd-0" -> (0L until 7L), "dd-1" -> (0L until 7L), "dd-2" -> (0L until 6L)))
    } finally q.stop()
  }

  test("dedupDeliveries drops redeliveries arriving in LATER micro-batches") {
    // the state-store path (not just in-batch dedup): branch 1 delivers
    // the full log in batch 0; branch 2 re-delivers the same files one
    // per micro-batch afterwards — every one a cross-batch duplicate
    // that only the watermark-bounded key state can recognize
    val es = EventStore.open(
      spark, tempDir("graft-sddx-").toString, 4)
    val base = 1700000000000L
    // two appends so the log spans several files
    es.appendMany((0 until 10).map(i =>
      EventInput(s"dx-${i % 3}", s"E$i", timestampMs = Some(base + i * 1000L))))
    es.appendMany((10 until 20).map(i =>
      EventInput(s"dx-${i % 3}", s"E$i", timestampMs = Some(base + i * 1000L))))

    def feed(extra: (String, String)*) = {
      val rs = spark.readStream
        .schema(graft.core.EventSchema.schema)
        .option("basePath", s"${es.root}/events")
      extra.foldLeft(rs) { case (r, (k, v)) => r.option(k, v) }
        .parquet(s"${es.root}/events")
    }
    val q = EventTimeAggs
      .dedupDeliveries(
        feed().unionAll(feed("maxFilesPerTrigger" -> "1")), "1 hour")
      .select("event_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("eta_dedup_xb").start()
    try {
      q.processAllAvailable()
      // the trickling branch forces multiple micro-batches
      assert(q.lastProgress.batchId > 0,
        s"expected multiple micro-batches, got batchId=${q.lastProgress.batchId}")
      val ids = spark.table("eta_dedup_xb").collect().map(_.getString(0))
      assert(ids.length == 20, s"expected 20 exactly-once events, got ${ids.length}")
      assert(ids.distinct.length == 20)
    } finally q.stop()
  }

  test("intervalJoin matches same-stream events inside the inclusive window only") {
    val es = EventStore.open(
      spark, tempDir("graft-ij-").toString, 4)
    val t0 = 1700000000000L
    val Hour = 3600000L
    es.appendMany(Seq(
      // ij-1 versions 0..5
      EventInput("ij-1", "click", timestampMs = Some(t0)),            // v0
      EventInput("ij-1", "purchase", timestampMs = Some(t0)),         // v1: >= bound
      EventInput("ij-1", "purchase", timestampMs = Some(t0 + 600000)),// v2: inside
      EventInput("ij-1", "purchase", timestampMs = Some(t0 + Hour)),  // v3: <= bound
      EventInput("ij-1", "purchase", timestampMs = Some(t0 + Hour + 1)), // v4: out
      EventInput("ij-1", "click", timestampMs = Some(t0 + 2 * Hour)), // v5: no matches
      // ij-2: same-time purchase matches only within ITS stream
      EventInput("ij-2", "purchase", timestampMs = Some(t0 + 300000)),// v0
      EventInput("ij-2", "click", timestampMs = Some(t0 + 300000))))  // v1

    def feed() = spark.readStream
      .schema(graft.core.EventSchema.schema)
      .option("basePath", s"${es.root}/events")
      .parquet(s"${es.root}/events")
    val q = EventTimeAggs.intervalJoin(feed(), feed(), "click", "purchase",
        reach = "1 hour", lateness = "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("eta_ijoin").start()
    try {
      q.processAllAvailable()
      val got = spark.table("eta_ijoin").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(got == Seq(
        ("ij-1", 0L, 1L), ("ij-1", 0L, 2L), ("ij-1", 0L, 3L), ("ij-2", 1L, 0L)))
    } finally q.stop()
  }

  test("intervalJoinLeft: unmatched clicks emit NULL rows once the watermark clears their window") {
    val es = EventStore.open(
      spark, tempDir("graft-loj-").toString, 4)
    val t0 = 1700000000000L
    val Hour = 3600000L
    es.appendMany(Seq(
      // same fixture as the inner-join test...
      EventInput("ij-1", "click", timestampMs = Some(t0)),            // v0
      EventInput("ij-1", "purchase", timestampMs = Some(t0)),         // v1
      EventInput("ij-1", "purchase", timestampMs = Some(t0 + 600000)),// v2
      EventInput("ij-1", "purchase", timestampMs = Some(t0 + Hour)),  // v3
      EventInput("ij-1", "purchase", timestampMs = Some(t0 + Hour + 1)), // v4: out
      EventInput("ij-1", "click", timestampMs = Some(t0 + 2 * Hour)), // v5: no matches
      EventInput("ij-2", "purchase", timestampMs = Some(t0 + 300000)),// v0
      EventInput("ij-2", "click", timestampMs = Some(t0 + 300000)),   // v1
      // ...plus the far-future sentinel pair: drives the final
      // watermark past every real click's [t, t+reach] window so the
      // NULL set flushes in the no-data eviction batch
      EventInput("__sentinel__", "click",
        timestampMs = Some(t0 + 90L * 24 * Hour)),
      EventInput("__sentinel__", "purchase",
        timestampMs = Some(t0 + 90L * 24 * Hour))))

    def feed() = spark.readStream
      .schema(graft.core.EventSchema.schema)
      .option("basePath", s"${es.root}/events")
      .parquet(s"${es.root}/events")
    // NB no sentinel filter on the streaming plan: Catalyst would push
    // it below the join into the left input, the left watermark would
    // never see the sentinel, and the min-of-sides global watermark
    // would stall (the NULL set silently never flushes). Sentinel rows
    // are dropped from the collected result instead.
    val q = EventTimeAggs.intervalJoinLeft(feed(), feed(),
        "click", "purchase", reach = "1 hour", lateness = "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("eta_lojoin").start()
    try {
      q.processAllAvailable()
      // outer-join NULL rows are emitted in a batch AFTER the one that
      // advanced the watermark — a no-data batch is not guaranteed
      // before processAllAvailable returns, so a second-phase sentinel
      // forces a real batch 2 under the batch-1 watermark
      es.appendMany(Seq(EventInput("__sentinel__", "click",
        timestampMs = Some(t0 + 91L * 24 * Hour))))
      q.processAllAvailable()
      val got = spark.table("eta_lojoin").collect()
        .map(r => (r.getString(0), r.getLong(1),
          Option(r.getAs[java.lang.Long]("right_version")).map(_.toLong)))
        .filter(_._1 != "__sentinel__")
        .sortBy(t => (t._1, t._2, t._3.getOrElse(-1L))).toSeq
      assert(got == Seq(
        ("ij-1", 0L, Some(1L)), ("ij-1", 0L, Some(2L)),
        ("ij-1", 0L, Some(3L)),
        ("ij-1", 5L, None), // the unmatched click's NULL-extended row
        ("ij-2", 1L, Some(0L))))
    } finally q.stop()
  }

  test("intervalJoinLeft is provider-independent: RocksDB + join state format v3 == default HDFS store") {
    // pins the r19 scaffold tuning (SparkEntry.tuneStateStore): the
    // state-store provider and the join's state format are storage
    // choices BELOW the operator — flipping them must never change
    // emitted rows. Same fixture as the outer-join test above.
    val es = EventStore.open(
      spark, tempDir("graft-lojv3-").toString, 4)
    val t0 = 1700000000000L
    val Hour = 3600000L
    es.appendMany(Seq(
      EventInput("ij-1", "click", timestampMs = Some(t0)),
      EventInput("ij-1", "purchase", timestampMs = Some(t0)),
      EventInput("ij-1", "purchase", timestampMs = Some(t0 + 600000)),
      EventInput("ij-1", "purchase", timestampMs = Some(t0 + Hour)),
      EventInput("ij-1", "purchase", timestampMs = Some(t0 + Hour + 1)),
      EventInput("ij-1", "click", timestampMs = Some(t0 + 2 * Hour)),
      EventInput("ij-2", "purchase", timestampMs = Some(t0 + 300000)),
      EventInput("ij-2", "click", timestampMs = Some(t0 + 300000)),
      EventInput("__sentinel__", "click",
        timestampMs = Some(t0 + 90L * 24 * Hour)),
      EventInput("__sentinel__", "purchase",
        timestampMs = Some(t0 + 90L * 24 * Hour))))

    def feed() = spark.readStream
      .schema(graft.core.EventSchema.schema)
      .option("basePath", s"${es.root}/events")
      .parquet(s"${es.root}/events")
    def runOnce(name: String): Seq[(String, Long, Option[Long])] = {
      val q = EventTimeAggs.intervalJoinLeft(feed(), feed(),
          "click", "purchase", reach = "1 hour", lateness = "1 hour")
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        q.processAllAvailable()
        es.appendMany(Seq(EventInput("__sentinel__", "click",
          timestampMs = Some(t0 + (91L + name.length) * 24 * Hour))))
        q.processAllAvailable()
        spark.table(name).collect()
          .map(r => (r.getString(0), r.getLong(1),
            Option(r.getAs[java.lang.Long]("right_version")).map(_.toLong)))
          .filter(_._1 != "__sentinel__")
          .sortBy(t => (t._1, t._2, t._3.getOrElse(-1L))).toSeq
      } finally q.stop()
    }
    val confs = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider"),
      "spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled" -> "true",
      "spark.sql.streaming.join.stateFormatVersion" -> "3")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val hdfs = runOnce("eta_loj_hdfs")
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val rocks = runOnce("eta_loj_rocks")
      assert(rocks == hdfs,
        s"state-store provider changed the join result:\n$rocks\nvs\n$hdfs")
      assert(hdfs.nonEmpty && hdfs.exists(_._3.isEmpty),
        "fixture must exercise both matched and NULL-extended rows")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("native session_window: exact-gap boundary MERGES; end = last + gap") {
    // pins the boundary the stream_sessions_native oracle encodes as
    // a strict `>` new-session predicate — if a Spark upgrade flips
    // the merge to exclusive (or the pin were wrong), this localizes
    // it instead of an opaque gate hash mismatch
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val base = 1700000000000000L // µs
    val gapUs = 30L * 60 * 1000000
    ms.addData(
      ("a", base), ("a", base + gapUs),     // EXACT gap: one session
      ("b", base), ("b", base + gapUs + 1), // 1 µs past: two sessions
      ("wm", base + 1000L * gapUs))         // watermark driver
    val q = ms.toDF().toDF("sid", "us")
      .withColumn("event_time", timestamp_micros(col("us")))
      .withWatermark("event_time", "1 minute")
      .groupBy(session_window(col("event_time"), "30 minutes"), col("sid"))
      .agg(count(lit(1)).as("n"))
      .select(col("sid"),
        unix_micros(col("session_window.start")).as("s"),
        unix_micros(col("session_window.end")).as("e"), col("n"))
      .writeStream.outputMode("append").format("memory")
      .queryName("eta_native_sess").start()
    try {
      q.processAllAvailable()
      ms.addData(("wm2", base + 2000L * gapUs)) // flush batch 2
      q.processAllAvailable()
      val got = spark.table("eta_native_sess").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .filter(t => t._1 == "a" || t._1 == "b").sortBy(t => (t._1, t._2))
      assert(got.toSeq == Seq(
        ("a", base, base + 2 * gapUs, 2L), // merged; end = last + gap
        ("b", base, base + gapUs, 1L),
        ("b", base + gapUs + 1, base + 2 * gapUs + 1, 1L)))
    } finally q.stop()
  }

  test("sessionizeFeed is unit-agnostic: µs timestamps with a µs gap") {
    val es = EventStore.open(
      spark, tempDir("graft-sessus-").toString, 4)
    val base = 1700000000000L
    val GapMs = 30L * 60000L
    es.appendMany(Seq(
      // three sessions in su-1: the first two close on in-data gaps
      EventInput("su-1", "E", timestampMs = Some(base)),
      EventInput("su-1", "E", timestampMs = Some(base + GapMs)), // gap == 30min: same session
      EventInput("su-1", "E", timestampMs = Some(base + 2 * GapMs + 1)), // closes #1
      EventInput("su-1", "E", timestampMs = Some(base + 4 * GapMs + 2)), // closes #2
      // su-2: single open session, never emitted
      EventInput("su-2", "E", timestampMs = Some(base))))

    import spark.implicits._
    val feed = spark.readStream
      .schema(graft.core.EventSchema.schema)
      .option("basePath", s"${es.root}/events")
      .parquet(s"${es.root}/events")
      .select(org.apache.spark.sql.functions.col("stream_id"),
        org.apache.spark.sql.functions.expr("timestamp_ns div 1000")
          .as("timestamp_ns"))
      .as[EventTimeAggs.SessionInput]
    val q = EventTimeAggs.sessionizeFeed(feed, gapNs = 30L * 60 * 1000000L)
      .toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("eta_sessions_us").start()
    try {
      q.processAllAvailable()
      val closed = spark.table("eta_sessions_us").collect()
        .map(r => (r.getAs[String]("stream_id"), r.getAs[Long]("start_ns"),
          r.getAs[Long]("end_ns"), r.getAs[Long]("events"))).sorted.toSeq
      // start/end come back in the unit the feed supplied (µs here);
      // the 30-minute-exactly gap does NOT split (strict > only)
      assert(closed == Seq(
        ("su-1", base * 1000L, (base + GapMs) * 1000L, 2L),
        ("su-1", (base + 2 * GapMs + 1) * 1000L, (base + 2 * GapMs + 1) * 1000L, 1L)))
    } finally q.stop()
  }

  test("sessionizeFeed: out-of-order arrival across batches cannot regress the session frontier") {
    val es = EventStore.open(
      spark, tempDir("graft-sessoo-").toString, 4)
    val base = 1700000000000L
    val Min = 60000L
    // four separate appends = four parquet files; maxFilesPerTrigger=1
    // delivers them in four micro-batches, so the 10-minute event
    // reaches the operator AFTER the 20-minute event. All four are
    // inside one 30-minute-gap session: a state that regressed
    // last_ns to the out-of-order 10-minute event would see the
    // 45-minute event as a 35-minute gap and falsely split.
    es.appendMany(Seq(EventInput("oo-1", "E", timestampMs = Some(base))))
    es.appendMany(Seq(EventInput("oo-1", "E", timestampMs = Some(base + 20 * Min))))
    es.appendMany(Seq(EventInput("oo-1", "E", timestampMs = Some(base + 10 * Min))))
    es.appendMany(Seq(EventInput("oo-1", "E", timestampMs = Some(base + 45 * Min))))

    import spark.implicits._
    val feed = spark.readStream
      .schema(graft.core.EventSchema.schema)
      .option("basePath", s"${es.root}/events")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"${es.root}/events")
      .select(org.apache.spark.sql.functions.col("stream_id"),
        org.apache.spark.sql.functions.col("timestamp_ns"))
      .as[EventTimeAggs.SessionInput]
    val q = EventTimeAggs.sessionizeFeed(feed, gapNs = 30L * 60 * 1000000000L)
      .toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("eta_sessions_oo").start()
    try {
      q.processAllAvailable()
      assert(q.lastProgress.batchId > 0,
        s"expected multiple micro-batches, got batchId=${q.lastProgress.batchId}")
      // every event is within 30 minutes of the session frontier —
      // nothing may close
      assert(spark.table("eta_sessions_oo").collect().isEmpty)
    } finally q.stop()
  }

  test("sessionizeFeed: idle flush closes the trailing session via state timeout") {
    val es = EventStore.open(
      spark, tempDir("graft-sessidle-").toString, 4)
    val base = 1700000000000L
    // idle-1 gets two events inside one session, then goes quiet
    es.appendMany(Seq(
      EventInput("idle-1", "E", timestampMs = Some(base)),
      EventInput("idle-1", "E", timestampMs = Some(base + 60000))))

    import spark.implicits._
    val feed = spark.readStream
      .schema(graft.core.EventSchema.schema)
      .option("basePath", s"${es.root}/events")
      .parquet(s"${es.root}/events")
      .select(org.apache.spark.sql.functions.col("stream_id"),
        org.apache.spark.sql.functions.col("timestamp_ns"))
      .as[EventTimeAggs.SessionInput]
    val q = EventTimeAggs.sessionizeFeed(feed,
        gapNs = 30L * 60 * 1000000000L, idleFlushMs = Some(500L))
      .toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("eta_sessions_idle").start()
    // NOTE: no processAllAvailable() anywhere in this test — with a
    // processing-time timeout armed, FlatMapGroupsWithStateExec keeps
    // requesting no-data micro-batches (that is HOW idle groups get
    // flushed without new input), so the engine never reports the
    // quiescence processAllAvailable waits for. Poll the sink instead.
    def awaitRows(what: String)(
        cond: => Array[org.apache.spark.sql.Row]): org.apache.spark.sql.Row = {
      var got = Array.empty[org.apache.spark.sql.Row]
      var i = 0
      while (got.isEmpty && i < 100) { // <= 30 s
        Thread.sleep(300)
        got = cond
        i += 1
      }
      assert(got.length == 1, s"$what: expected 1 row, got ${got.length}")
      got.head
    }
    try {
      // the trailing session has NO in-data gap — only the timeout
      // path (the hasTimedOut branch) can emit it
      val r = awaitRows("idle flush") {
        spark.table("eta_sessions_idle")
          .where($"stream_id" === "idle-1").collect()
      }
      assert(r.getAs[Long]("start_ns") == base * 1000000L)
      assert(r.getAs[Long]("end_ns") == (base + 60000) * 1000000L)
      assert(r.getAs[Long]("events") == 2L)
      // the flushed group's state is gone: a new event for idle-1
      // starts a FRESH session (events=1) rather than extending the
      // flushed one — it closes on the in-batch gap (or a later idle
      // flush), either way as its own 1-event session
      es.appendMany(Seq(
        EventInput("idle-1", "E", timestampMs = Some(base + 120000)),
        EventInput("idle-1", "E", timestampMs = Some(base + 7200000))))
      val again = awaitRows("fresh session") {
        spark.table("eta_sessions_idle")
          .where($"stream_id" === "idle-1" &&
            $"start_ns" === (base + 120000) * 1000000L).collect()
      }
      assert(again.getAs[Long]("events") == 1L,
        "state must be removed on flush — new events start a fresh session")
    } finally q.stop()
  }
}
