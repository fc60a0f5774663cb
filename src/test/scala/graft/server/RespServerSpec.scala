package graft.server

import java.net.Socket
import java.nio.file.Files

import graft.api.EventStore
import graft.server.Resp._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** End-to-end walk of all 13 wire commands over a real TCP socket,
  * in the style of the reference's comprehensive client test
  * (`crates/sierradb-client/examples/comprehensive_test.rs`).
  */
class RespServerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val es =
    EventStore.open(spark, Files.createTempDirectory("graft-srv-").toString, 8)
  private lazy val server = new RespServer(es).start()

  override def afterAll(): Unit = {
    server.stop()
    spark.stop()
  }

  /** tiny RESP3 client */
  private final class Client {
    private val sock = new Socket("127.0.0.1", server.localPort)
    private val out = new java.io.BufferedOutputStream(sock.getOutputStream)
    private val in = new java.io.BufferedInputStream(sock.getInputStream)
    def call(args: String*): Frame = {
      Resp.encode(ArrayF(args.map(blob)), out)
      out.flush()
      Resp.decode(in)
    }
    /** write without reading — for commands whose reply interleaves
      * with push frames already in flight on this connection
      */
    def send(args: String*): Unit = {
      Resp.encode(ArrayF(args.map(blob)), out)
      out.flush()
    }
    def callRaw(args: Array[Byte]*): Frame = {
      Resp.encode(ArrayF(args.map(Blob(_))), out)
      out.flush()
      Resp.decode(in)
    }
    def read(): Frame = Resp.decode(in)
    /** read with a deadline; None = the server sent nothing */
    def readWithin(ms: Int): Option[Frame] = {
      sock.setSoTimeout(ms)
      try Some(Resp.decode(in))
      catch { case _: java.net.SocketTimeoutException => None }
      finally sock.setSoTimeout(0)
    }
    def close(): Unit = sock.close()
  }

  private def asMap(f: Frame): Map[String, Frame] = f match {
    case MapF(es) => es.map { case (k, v) =>
      (k match { case b: Blob => b.utf8; case SimpleStr(s) => s; case o => o.toString }) -> v
    }.toMap
    case other => fail(s"expected map frame, got $other")
  }

  test("all 13 commands round-trip over a real socket") {
    val c = new Client

    // HELLO / PING
    assert(c.call("HELLO", "2") == SimpleErr("NOPROTO unsupported protocol version"))
    val hello = asMap(c.call("HELLO", "3"))
    assert(hello("proto") == blob("3"))
    assert(c.call("PING") == SimpleStr("PONG"))

    // EAPPEND
    val a1 = asMap(c.call("EAPPEND", "wire-s", "Created", "PAYLOAD", "hello"))
    assert(a1("stream_version") == Num(0))
    val eventId = a1("event_id").asInstanceOf[Blob].utf8
    asMap(c.call("EAPPEND", "wire-s", "Updated"))

    // EMAPPEND (atomic multi-event)
    val pk = graft.core.Ids.partitionKeyForStream("wire-m").toString
    val m = asMap(c.call("EMAPPEND", pk, "wire-m", "A", "wire-m", "B"))
    assert(m("events").asInstanceOf[ArrayF].items.size == 2)
    val firstTxEvent = asMap(m("events").asInstanceOf[ArrayF].items.head)
    val txEventId = firstTxEvent("event_id").asInstanceOf[Blob].utf8

    // EGET + EGET TRANSACTION
    val got = asMap(c.call("EGET", eventId))
    assert(got("stream_id") == blob("wire-s"))
    assert(got("event_name") == blob("Created"))
    assert(got("payload") == blob("hello"))
    assert(c.call("EGET", java.util.UUID.randomUUID().toString) == NullF)
    val tx = c.call("EGET", txEventId, "TRANSACTION").asInstanceOf[ArrayF]
    assert(tx.items.size == 2)
    assert(asMap(tx.items.head)("event_name") == blob("A"))

    // ESCAN (range grammar + has_more)
    val scan = asMap(c.call("ESCAN", "wire-s", "-", "+", "COUNT", "1"))
    assert(scan("has_more") == Bool(true))
    assert(scan("events").asInstanceOf[ArrayF].items.size == 1)
    assert(c.call("ESCAN", "wire-s", "+", "-").isInstanceOf[SimpleErr])

    // EPSCAN by partition-key uuid
    val pscan = asMap(c.call("EPSCAN", pk, "-", "+"))
    assert(pscan("events").asInstanceOf[ArrayF].items.size >= 2)

    // ESVER / EPSEQ
    assert(c.call("ESVER", "wire-s") == Num(1))
    assert(c.call("ESVER", "no-such-stream") == NullF)
    assert(c.call("EPSEQ", pk).isInstanceOf[Num])

    // INFO CACHE (reference key set) — the EGETs above moved counters
    val info = asMap(c.call("INFO", "CACHE"))
    assert(info.keySet == Set("hits", "misses", "hit_ratio", "entries",
      "memory_bytes", "max_bytes", "block_size_bytes", "evictions"))
    assert(info("misses").asInstanceOf[Num].v >= 1)

    // EACK
    assert(c.call("EACK", "some-sub", "42") == SimpleStr("OK"))

    // unknown command → error, never a hang
    assert(c.call("NOSUCH").isInstanceOf[SimpleErr])
    c.close()
  }

  test("non-UTF-8 binary payload/metadata survive the wire byte-for-byte") {
    val c = new Client
    def b(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // invalid UTF-8: lone continuation, overlong start, 0x00/0xFF — a
    // String round trip would U+FFFD-mangle these (`eappend.rs:55`
    // stores Vec<u8>, so the reference returns them unchanged)
    val payload = Array[Byte](0x00, 0xff.toByte, 0x80.toByte, 0xc3.toByte, 0x28, 0xfe.toByte)
    val metadata = Array[Byte](0xf0.toByte, 0x28, 0x8c.toByte, 0x28, 0x00, 0x9f.toByte)

    val a = asMap(c.callRaw(b("EAPPEND"), b("bin-s"), b("Created"),
      b("PAYLOAD"), payload, b("METADATA"), metadata))
    val id = a("event_id").asInstanceOf[Blob].utf8
    val got = asMap(c.call("EGET", id))
    assert(got("payload") == Blob(payload))
    assert(got("metadata") == Blob(metadata))

    // same through the atomic multi-event path
    val pk = graft.core.Ids.partitionKeyForStream("bin-m").toString
    val m = asMap(c.callRaw(b("EMAPPEND"), b(pk),
      b("bin-m"), b("A"), b("PAYLOAD"), payload))
    val mid = asMap(m("events").asInstanceOf[ArrayF].items.head)("event_id")
      .asInstanceOf[Blob].utf8
    assert(asMap(c.call("EGET", mid))("payload") == Blob(payload))
    c.close()
  }

  test("ESUB pushes live events as RESP3 push frames") {
    val c = new Client
    (1 to 3).foreach(i => asMap(c.call("EAPPEND", "push-s", s"H$i")))
    val subId = c.call("ESUB", "push-s", "FROM", "0") match {
      case SimpleStr(s) => s
      case other        => fail(s"expected subscription id, got $other")
    }
    // history catch-up arrives as push frames [message, subId, cursor, event]
    val pushes = (1 to 3).map(_ => c.read())
    pushes.zipWithIndex.foreach { case (p, i) =>
      val PushF(Seq(SimpleStr("message"), SimpleStr(id), Num(cursor), ev)) = p
      assert(id == subId)
      assert(cursor == i.toLong)
      assert(asMap(ev)("event_name") == blob(s"H${i + 1}"))
    }
    // live tail: a new append flows through the same socket
    val c2 = new Client
    asMap(c2.call("EAPPEND", "push-s", "Live"))
    c2.close()
    val PushF(Seq(_, _, Num(liveCursor), liveEv)) = c.read()
    assert(liveCursor == 3L)
    assert(asMap(liveEv)("event_name") == blob("Live"))
    c.close()
  }

  test("live tail under concurrent appends: ordered, gapless, window-paced") {
    // mirrors the reference's live-tail subscription cases
    // (`tests/subscriptions.rs`, comprehensive_test.rs live section):
    // one connection EAPPENDs WHILE another consumes the same stream's
    // ESUB across the history→live seam, with a real EACK window
    // pacing delivery the whole way. Every wait is a bounded socket
    // read — no sleeps beyond the writer's pacing.
    val c = new Client
    (1 to 20).foreach(i => asMap(c.call("EAPPEND", "tail-s", s"H$i")))
    val subId = c.call("ESUB", "tail-s", "FROM", "0", "WINDOW", "4") match {
      case SimpleStr(s) => s
      case other        => fail(s"expected subscription id, got $other")
    }
    @volatile var writerErr: Option[Throwable] = None
    val writer = new Thread(() => {
      try {
        val w = new Client
        (1 to 20).foreach { i =>
          asMap(w.call("EAPPEND", "tail-s", s"L$i"))
          Thread.sleep(5) // spread appends across several micro-batches
        }
        w.close()
      } catch { case t: Throwable => writerErr = Some(t) }
    }, "live-tail-writer")
    writer.start()

    val names = scala.collection.mutable.ArrayBuffer[String]()
    var acked = -1L
    var next = 0L
    var okPending = 0
    while (names.size < 40) {
      c.readWithin(20000) match {
        case Some(SimpleStr("OK")) => okPending -= 1 // an EACK reply
        case Some(PushF(Seq(SimpleStr("message"), SimpleStr(id), Num(cur), ev))) =>
          assert(id == subId)
          assert(cur == next, s"cursor must be gapless: got $cur, want $next")
          next += 1
          names += (asMap(ev)("event_name") match {
            case b: Blob => b.utf8
            case o       => o.toString
          })
          // ack every other event: the unacked gap stays under the
          // window, so delivery is continuously paced, never stalled
          if (cur - acked >= 2) {
            c.send("EACK", subId, cur.toString)
            acked = cur
            okPending += 1
          }
        case other => fail(s"unexpected frame mid-tail: $other")
      }
    }
    while (okPending > 0) {
      assert(c.readWithin(5000).contains(SimpleStr("OK")))
      okPending -= 1
    }
    writer.join(30000)
    assert(writerErr.isEmpty, s"writer failed: $writerErr")
    // the full history then the full live tail, in stream-version order,
    // no loss and no duplication across the seam
    assert(names.toSeq ==
      (1 to 20).map(i => s"H$i") ++ (1 to 20).map(i => s"L$i"))
    c.close()
  }

  test("consumer killed mid-live-tail: reconnect FROM the resume point " +
      "is exactly-once and ordered across the restart") {
    // the reference's crash-recovery flow (`subscription.rs:402-439`):
    // a subscription's server-side state dies with its connection, and
    // the CLIENT's durable position (its last processed version) is
    // what resumes it — re-subscribe FROM position+1 and every event
    // from there redelivers exactly once, in order, across the
    // history→live seam. The kill is an abrupt socket close with a
    // delivered-but-unacked event in flight.
    val p = new Client
    (1 to 6).foreach(i => asMap(p.call("EAPPEND", "res-s", s"H$i")))

    val a = new Client
    val subA = a.call("ESUB", "res-s", "FROM", "0", "WINDOW", "4") match {
      case SimpleStr(s) => s
      case other        => fail(s"expected subscription id, got $other")
    }
    def push(f: Frame): (Long, String, Long) = f match {
      case PushF(Seq(SimpleStr("message"), SimpleStr(_), Num(cur), ev)) =>
        val m = asMap(ev)
        val Num(v) = m("stream_version")
        (cur, m("event_name") match { case b: Blob => b.utf8; case o => o.toString }, v)
      case other => fail(s"expected push, got $other")
    }
    // consume 4 of the 6 history events, ack only 2 — then die with
    // in-flight unacked deliveries (the crash shape, not a clean stop)
    val seenA = (1 to 4).map(_ => push(a.read()))
    assert(seenA.map(_._2) == Seq("H1", "H2", "H3", "H4"))
    assert(seenA.map(_._3) == (0L to 3L))
    a.send("EACK", subA, "1")
    a.close() // abrupt: no unsubscribe, OK reply possibly unread

    // more events arrive while the consumer is down
    (7 to 8).foreach(i => asMap(p.call("EAPPEND", "res-s", s"L$i")))

    // reconnect and resume FROM last-processed + 1 (version 4): the
    // unread H5/H6 redeliver exactly once, then the missed live tail
    val b = new Client
    b.call("ESUB", "res-s", "FROM", "4", "WINDOW", "8") match {
      case SimpleStr(_) => ()
      case other        => fail(s"expected subscription id, got $other")
    }
    val seenB = (1 to 4).map(_ =>
      push(b.readWithin(20000).getOrElse(fail("resume push timed out"))))
    assert(seenB.map(_._2) == Seq("H5", "H6", "L7", "L8"),
      s"resume diverged: ${seenB.map(_._2)}")
    assert(seenB.map(_._3) == (4L to 7L))
    // exactly-once across the restart: union covers every version once
    assert((seenA.map(_._3) ++ seenB.map(_._3)) == (0L to 7L))
    // per-subscription cursors are gapless within each incarnation
    assert(seenA.map(_._1) == (0L to 3L) && seenB.map(_._1) == (0L to 3L))
    b.close()
    p.close()
  }

  test("EACK window: delivery blocks at WINDOW unacked, resumes on ack") {
    val c = new Client
    (1 to 5).foreach(i => asMap(c.call("EAPPEND", "ack-s", s"E$i")))
    val subId = c.call("ESUB", "ack-s", "FROM", "0", "WINDOW", "2") match {
      case SimpleStr(s) => s
      case other        => fail(s"expected subscription id, got $other")
    }
    // exactly WINDOW events arrive unacked, then the server blocks
    def cursorOf(f: Frame): Long = f match {
      case PushF(Seq(_, _, Num(cur), _)) => cur
      case other                         => fail(s"expected push, got $other")
    }
    assert(cursorOf(c.read()) == 0L)
    assert(cursorOf(c.read()) == 1L)
    assert(c.readWithin(1500).isEmpty, "third event must wait for an ack")
    // EACK frees the window: two more flow, then it blocks again. The
    // +OK reply and the freed pushes may interleave — gather them.
    val afterAck1 = Seq(c.call("EACK", subId, "1"), c.read(), c.read())
    assert(afterAck1.contains(SimpleStr("OK")))
    assert(afterAck1.collect { case p: PushF => cursorOf(p) }.sorted == Seq(2L, 3L))
    assert(c.readWithin(1500).isEmpty)
    val afterAck2 = Seq(c.call("EACK", subId, "3"), c.read())
    assert(afterAck2.contains(SimpleStr("OK")))
    assert(afterAck2.collect { case p: PushF => cursorOf(p) } == Seq(4L))
    c.close()
  }

  test("INFO STORE reports the manifest, the file index and append layer times") {
    val c = new Client
    (1 to 3).foreach(i => asMap(c.call("EAPPEND", "store-s", s"E$i")))
    val info = asMap(c.call("INFO", "STORE"))
    val layers = for {
      l <- Seq("validate", "write", "commit"); q <- Seq("p50", "p99")
    } yield s"append_${l}_${q}_ms"
    assert(info.keySet == Set("manifest_version", "delta_chain", "data_files",
      "max_partition_files", "inline_heads", "head_layers", "appends_sampled",
      "rollovers", "rolled_files", "rollover_failures", "rollover_p50_ms",
      "rollover_p99_ms") ++ layers)
    assert(info("manifest_version") == Num(es.manifest.version))
    assert(info("inline_heads") == Num(es.manifest.streamHeads.size.toLong))
    assert(info("head_layers") == Num(0))
    val n = (k: String) => info(k).asInstanceOf[Num].v
    assert(n("delta_chain") >= 0 && n("delta_chain") < graft.storage.Manifest.CheckpointEvery)
    assert(n("data_files") >= 3 && n("appends_sampled") >= 3)
    val ms = (k: String) => info(k).asInstanceOf[Dbl].v
    Seq("validate", "write", "commit").foreach { l =>
      assert(0.0 <= ms(s"append_${l}_p50_ms") &&
        ms(s"append_${l}_p50_ms") <= ms(s"append_${l}_p99_ms"))
    }
    assert(ms("append_write_p99_ms") > 0.0 && ms("append_commit_p99_ms") > 0.0)
    assert(n("max_partition_files") >= 1 && n("max_partition_files") <= n("data_files"))

    // one-event appends to one stream fill its partition's first tier:
    // the counters move once the worker has swapped the run in
    val before = n("rollovers")
    (1 to 16).foreach(i => asMap(c.call("EAPPEND", "store-s", s"R$i")))
    val deadline = System.nanoTime() + 30L * 1000000000L
    def rolled() = asMap(c.call("INFO", "STORE"))
    var after = rolled()
    while (after("rollovers").asInstanceOf[Num].v == before && System.nanoTime() < deadline) {
      Thread.sleep(20); after = rolled()
    }
    val m = (k: String) => after(k).asInstanceOf[Num].v
    val mms = (k: String) => after(k).asInstanceOf[Dbl].v
    assert(m("rollovers") > before)
    assert(m("rolled_files") == 16 * m("rollovers"))
    assert(m("rollover_failures") == 0)
    assert(0.0 < mms("rollover_p50_ms") && mms("rollover_p50_ms") <= mms("rollover_p99_ms"))
    // INFO CACHE keeps the reference key set
    assert(asMap(c.call("INFO", "CACHE")).keySet == Set("hits", "misses", "hit_ratio",
      "entries", "memory_bytes", "max_bytes", "block_size_bytes", "evictions"))
    c.close()
  }
}
