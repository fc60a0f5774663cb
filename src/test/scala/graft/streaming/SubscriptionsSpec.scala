package graft.streaming

import java.nio.file.Files

import graft.api.EventStore
import graft.core._
import graft.streaming.Subscriptions._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Subscription hydration tests, porting the matcher-shape coverage of
  * `subscription.rs:818-1176`: history catch-up, the history→live seam
  * (no gaps, no duplicates), FROM version/map variants, and partition
  * subscriptions.
  */
class SubscriptionsSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshStore(): EventStore =
    EventStore.open(spark, tempDir("graft-sub-").toString, 8)

  private def in(sid: String, name: String): EventInput =
    EventInput(sid, name, name.getBytes, Array.emptyByteArray)

  private def collectDelivered(
      es: EventStore, matcher: Matcher, from: From,
      byStream: Boolean,
      appendDuringLive: () => Unit = () => ()): Seq[(String, Long, String)] = {
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()
    val sub = subscribe(es, matcher, from)
    val q = deliver(sub, tempDir("graft-ck-").toString, byStream) {
      rows => rows.foreach { r =>
        delivered.add((
          r.getAs[String]("stream_id"),
          if (byStream) r.getAs[Long]("stream_version")
          else r.getAs[Long]("partition_sequence"),
          r.getAs[String]("event_name")))
      }
    }
    try {
      q.processAllAvailable() // history catch-up
      appendDuringLive()
      q.processAllAvailable() // live tail
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    delivered.asScala.toSeq
  }

  test("ESUB single stream: history then live, no gaps or duplicates") {
    val es = freshStore()
    (1 to 5).foreach(i => es.append(in("a", s"h$i")))
    es.append(in("other", "x"))

    val got = collectDelivered(es, Matcher(streams = Seq("a")), From.Value(0),
      byStream = true,
      appendDuringLive = () => (6 to 8).foreach(i => es.append(in("a", s"l$i"))))

    assert(got.map(_._1).distinct == Seq("a"))
    assert(got.map(_._2) == (0L to 7L))
    assert(got.map(_._3) == Seq("h1", "h2", "h3", "h4", "h5", "l6", "l7", "l8"))
  }

  test("ESUB FROM version: catch-up starts at the requested version") {
    val es = freshStore()
    (1 to 6).foreach(i => es.append(in("s", s"e$i")))
    val got = collectDelivered(es, Matcher(streams = Seq("s")), From.Value(3),
      byStream = true)
    assert(got.map(_._2) == (3L to 5L))
  }

  test("ESUB FROM LATEST: only events appended after subscribing") {
    val es = freshStore()
    (1 to 4).foreach(i => es.append(in("s", s"old$i")))
    val got = collectDelivered(es, Matcher(streams = Seq("s")), From.Latest,
      byStream = true,
      appendDuringLive = () => es.append(in("s", "fresh")))
    assert(got.map(_._3) == Seq("fresh"))
    assert(got.map(_._2) == Seq(4L))
  }

  test("ESUB MAP: per-stream starting versions") {
    val es = freshStore()
    (1 to 4).foreach(i => es.append(in("a", s"a$i")))
    (1 to 4).foreach(i => es.append(in("b", s"b$i")))
    val got = collectDelivered(
      es, Matcher(streams = Seq("a", "b")),
      From.PerKey(Map("a" -> 2L, "b" -> 0L)), byStream = true)
    assert(got.filter(_._1 == "a").map(_._2) == Seq(2L, 3L))
    assert(got.filter(_._1 == "b").map(_._2) == Seq(0L, 1L, 2L, 3L))
  }

  test("EPSUB all partitions: full log in partition-sequence order") {
    val es = freshStore()
    Seq("p", "q", "r").foreach(s => (1 to 3).foreach(i => es.append(in(s, s"$s$i"))))
    val got = collectDelivered(es, Matcher(allPartitions = true), From.Value(0),
      byStream = false)
    assert(got.size == 9)
    // per-partition sequences are contiguous from 0
    got.groupBy(_._1).foreach { case (_, evs) => // stream ⊂ partition here
      assert(evs.map(_._3).sorted == evs.map(_._3)) }
  }

  test("EACK semantics: restart on same checkpoint delivers only unacked events") {
    val es = freshStore()
    (1 to 4).foreach(i => es.append(in("ack", s"h$i")))
    val ck = tempDir("graft-ack-").toString
    val first = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q1 = deliver(subscribe(es, Matcher(streams = Seq("ack")), From.Value(0)),
      ck, byStream = true)(rows =>
      rows.foreach(r => first.add(r.getAs[Long]("stream_version"))))
    try q1.processAllAvailable() finally q1.stop()
    import scala.jdk.CollectionConverters._
    assert(first.asScala.toSeq == (0L to 3L))

    // new events while disconnected, then reconnect with the SAME
    // checkpoint (= subscription id): acked history must NOT redeliver
    (5 to 6).foreach(i => es.append(in("ack", s"l$i")))
    val second = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q2 = deliver(subscribe(es, Matcher(streams = Seq("ack")), From.Value(0)),
      ck, byStream = true)(rows =>
      rows.foreach(r => second.add(r.getAs[Long]("stream_version"))))
    try q2.processAllAvailable() finally q2.stop()
    assert(second.asScala.toSeq == Seq(4L, 5L))
  }

  test("subscription checkpoint survives compact(): resume without duplicates or gaps") {
    val es = freshStore()
    (1 to 5).foreach(i => es.append(in("c", s"h$i")))
    val ck = tempDir("graft-compact-ck-").toString
    val first = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q1 = deliver(subscribe(es, Matcher(streams = Seq("c")), From.Value(0)),
      ck, byStream = true)(rows =>
      rows.foreach(r => first.add(r.getAs[Long]("stream_version"))))
    try q1.processAllAvailable() finally q1.stop()
    import scala.jdk.CollectionConverters._
    assert(first.asScala.toSeq == (0L to 4L))

    // rewrite every data file (all-new paths, same sequences), append
    // more, then resume from the SAME checkpoint: sequence offsets make
    // the rewrite invisible — only the new events deliver
    es.compact()
    (6 to 8).foreach(i => es.append(in("c", s"l$i")))
    val second = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q2 = deliver(subscribe(es, Matcher(streams = Seq("c")), From.Value(0)),
      ck, byStream = true)(rows =>
      rows.foreach(r => second.add(r.getAs[Long]("stream_version"))))
    try q2.processAllAvailable() finally q2.stop()
    assert(second.asScala.toSeq == Seq(5L, 6L, 7L))
  }

  test("crash mid-delivery: restart on the same checkpoint redelivers " +
      "exactly the nacked batch, never acked ones (exactly-once resume)") {
    // the subscription analog of StreamingDedupRecoverySpec, and the
    // reference's ack-cursor redelivery semantic
    // (`subscription.rs:402-439`): the checkpoint commit after each
    // callback IS the ack, so a consumer that dies AFTER a batch was
    // pushed but BEFORE acking it must see that batch again on
    // restart — and only that batch, then the tail.
    val es = freshStore()
    (1 to 8).foreach(i => es.append(in("crash", s"h$i")))
    val ck = tempDir("graft-crash-ck-").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    // WINDOW=3 bounds every micro-batch to 3 events, so the 8-event
    // history spans 3 batches; the consumer dies at the start of the
    // second (nothing of it processed, nothing acked)
    val q1 = deliver(
      subscribe(es, Matcher(streams = Seq("crash")), From.Value(0),
        window = 3), ck, byStream = true) { rows =>
      if (batches.incrementAndGet() == 2)
        throw new RuntimeException("consumer died mid-tail")
      rows.foreach(r => seen.add(r.getAs[Long]("stream_version")))
    }
    intercept[Exception] { q1.processAllAvailable() }
    q1.stop()
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq == (0L to 2L),
      s"first batch only before the crash: ${seen.asScala.toSeq}")

    // restart from the SAME checkpoint, live appends included: the
    // nacked batch redelivers once, acked history never, order holds
    (9 to 10).foreach(i => es.append(in("crash", s"l$i")))
    val q2 = deliver(
      subscribe(es, Matcher(streams = Seq("crash")), From.Value(0),
        window = 3), ck, byStream = true) { rows =>
      rows.foreach(r => seen.add(r.getAs[Long]("stream_version")))
    }
    try q2.processAllAvailable() finally q2.stop()
    assert(seen.asScala.toSeq == (0L to 9L),
      "restart must resume exactly-once, in order, across the crash: " +
        seen.asScala.toSeq.mkString(","))
  }

  test("WINDOW bounds every micro-batch in events (real backpressure)") {
    val es = freshStore()
    (1 to 7).foreach(i => es.append(in("w", s"e$i")))
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val sub = subscribe(es, Matcher(streams = Seq("w")), From.Value(0), window = 2)
    val q = deliver(sub, tempDir("graft-win-").toString,
      byStream = true)(rows =>
      batches.add(rows.map(_.getAs[Long]("stream_version"))))
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val got = batches.asScala.toSeq
    // every batch is capped at WINDOW=2 events; catch-up is throttled
    // too (not one unbounded history batch), and nothing drops
    assert(got.forall(_.size <= 2))
    assert(got.size >= 4)
    assert(got.flatten == (0L to 6L))
  }

  test("explicit partition keys: keyed matcher delivers, bare matches default key only") {
    val es = freshStore()
    // route "keyed" under a custom key, away from its default route
    val defaultPid = Ids.partitionIdForStream("keyed", 8)
    val customPk = Iterator.from(0).map(i => Ids.partitionKeyForStream(s"donor-$i"))
      .find(pk => Ids.partitionIdFor(Ids.partitionHash(pk), 8) != defaultPid).get
    assert(es.mappend(customPk, Seq(in("keyed", "k1"), in("keyed", "k2"))).isRight)
    es.append(in("keyed", "default-routed")) // default pk, separate entry

    // explicit PARTITION_KEY matcher: exactly the custom-key events
    val keyed = collectDelivered(
      es, Matcher(streamKeys = Seq("keyed" -> customPk)),
      From.Value(0), byStream = true)
    assert(keyed.map(_._3) == Seq("k1", "k2"))

    // bare matcher resolves to the DERIVED default key (reference
    // `esub.rs` semantics): only the default-key event matches
    val bare = collectDelivered(es, Matcher(streams = Seq("keyed")),
      From.Value(0), byStream = true)
    assert(bare.map(_._3) == Seq("default-routed"))
  }

  test("FROM MAP: subscribed stream absent from the map gets full history") {
    val es = freshStore()
    (1 to 3).foreach(i => es.append(in("m-a", s"a$i")))
    (1 to 3).foreach(i => es.append(in("m-b", s"b$i")))
    val got = collectDelivered(
      es, Matcher(streams = Seq("m-a", "m-b")),
      From.PerKey(Map("m-a" -> 2L)), byStream = true)
    assert(got.filter(_._1 == "m-a").map(_._2) == Seq(2L))
    assert(got.filter(_._1 == "m-b").map(_._2) == Seq(0L, 1L, 2L))
  }

  test("same stream under two partition keys: both partitions deliver") {
    val es = freshStore()
    val pk1 = Ids.partitionKeyForStream("alpha")
    val pk2 = Iterator.from(0).map(i => Ids.partitionKeyForStream(s"d2-$i"))
      .find(pk => Ids.partitionIdFor(Ids.partitionHash(pk), 8) !=
        Ids.partitionIdFor(Ids.partitionHash(pk1), 8)).get
    es.mappend(pk1, Seq(in("dual", "in-p1")))
    es.mappend(pk2, Seq(in("dual", "in-p2")))
    val got = collectDelivered(
      es, Matcher(streamKeys = Seq("dual" -> pk1, "dual" -> pk2)),
      From.Value(0), byStream = true)
    assert(got.map(_._3).toSet == Set("in-p1", "in-p2"))
  }

  test("EPSUB one partition: only that partition's events") {
    val es = freshStore()
    es.append(in("x", "e1")); es.append(in("y", "e2")); es.append(in("x", "e3"))
    val pid = Ids.partitionIdForStream("x", 8)
    val got = collectDelivered(es, Matcher(partitions = Seq(pid)), From.Value(0),
      byStream = false)
    assert(got.nonEmpty)
    assert(got.forall(e => Ids.partitionIdForStream(e._1, 8) == pid))
  }

  test("catch-up while rollovers replace the partition's files delivers each event once, in order") {
    val es = freshStore()
    (0 until 300).foreach(i => es.append(in("roll", s"e$i")))
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val sub = subscribe(es, Matcher(streams = Seq("roll")), From.Value(0), window = 40)
    val q = deliver(sub, tempDir("graft-roll-ck-").toString,
      byStream = true)(rows => rows.foreach(r =>
        got.add((r.getAs[Long]("stream_version"), r.getAs[String]("event_name")))))
    // appends go on during the catch-up: each 16th fills a run, and the
    // worker swaps merged files in under the micro-batches' readers
    val appender = new Thread(() => (300 until 500).foreach(i => es.append(in("roll", s"e$i"))))
    try {
      appender.start()
      q.processAllAvailable()
      appender.join()
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSeq == (0 until 500).map(i => (i.toLong, s"e$i")))
    assert(es.storeInfo("rollovers").asInstanceOf[Long] >= 20)
  }
}
