package graft.tools

import org.apache.spark.sql.SparkSession

/** The sustained server-throughput workload behind the bench's
  * `server_sustained` leg.
  *
  * Shape (mirrors a real consumer): 2 streams seeded with history so
  * every subscription tail crosses the history→live seam, 2
  * EACK-windowed ESUB tails, 4 concurrent EMAPPEND writers in a 3 s
  * write window through the real RESP socket, then a full drain —
  * delivery must account for EVERY appended event or the run errors.
  */
object ServerSustained {

  /** `writeSec`/`deliveredDuringWrite` split delivery into its two
    * phases (concurrent-with-writes vs post-write drain) so a
    * declining delivered/s reading is attributable from the record:
    * a shrinking write-phase share means subscribers starved while
    * writers held the store; a growing drainSec means the backlog
    * replay slowed. (The r13→r15 driver records showed a three-record
    * delivered/s decline that could not be adjudicated because the
    * leg carried no witness — this is that witness's workload half.)
    */
  final case class Result(sec: Double, appendsPerSec: Double,
      deliveredPerSec: Double, drainSec: Double,
      writeSec: Double = 0.0, deliveredDuringWrite: Long = 0L,
      deliveredTotal: Long = 0L, appendedTotal: Long = 0L)

  /** Drain shortfall as a TYPED failure carrying the measured drain
    * time: the inline-bench era recorded serverDrainSec before
    * throwing, and the refactor must not lose the most diagnostic
    * number of the most diagnostic failure (a -1.0 drain on a drain
    * timeout hides the 30 s the record exists to show).
    */
  final case class DrainShortfall(drainSec: Double, delivered: Long,
      appended: Long) extends RuntimeException(
    s"subscribers drained $delivered of $appended " +
      f"(drain $drainSec%.1f s)")

  def run(spark: SparkSession): Result = {
    import graft.server.Resp
    import graft.server.Resp._
    val t00 = System.nanoTime()
    val dir = java.nio.file.Files.createTempDirectory("bench-srv-")
    // the server is stopped in a finally: an exception anywhere in the
    // workload (seed failure, writer join interruption) must not leak
    // the accept loop + connection handlers into the caller's next
    // measurement, nor leave them serving a deleted temp dir
    var srvOpt: Option[graft.server.RespServer] = None
    try {
      val ses = graft.api.EventStore.open(spark, dir.toString, 8)
      val srv = new graft.server.RespServer(ses).start()
      srvOpt = Some(srv)
      final class C {
        val sock = new java.net.Socket("127.0.0.1", srv.localPort)
        private val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        private[this] val in = new java.io.BufferedInputStream(sock.getInputStream)
        def call(args: String*): Frame = {
          Resp.encode(ArrayF(args.map(blob)), out); out.flush(); Resp.decode(in)
        }
        def send(args: String*): Unit = {
          Resp.encode(ArrayF(args.map(blob)), out); out.flush()
        }
        def readFrame(): Frame = Resp.decode(in)
        def close(): Unit = sock.close()
      }
      val nSubs = 2
      val nWriters = 4
      val batch = 50
      val writeWindowNs = 3L * 1000 * 1000 * 1000
      val appendedPerStream = Array.fill(nSubs)(
        new java.util.concurrent.atomic.AtomicLong)
      val deliveredPerSub = Array.fill(nSubs)(
        new java.util.concurrent.atomic.AtomicLong)
      // history before the subscriptions start: the tail crosses the
      // history→live seam like a real consumer
      val seeder = new C
      (0 until nSubs).foreach { s =>
        val pk = graft.core.Ids.partitionKeyForStream(s"srv-$s").toString
        seeder.call(Seq("EMAPPEND", pk) ++
          (0 until batch).flatMap(_ => Seq(s"srv-$s", "Seed")): _*)
        appendedPerStream(s).addAndGet(batch)
      }
      seeder.close()
      @volatile var stopSubs = false
      @volatile var firstErr: Option[Throwable] = None
      val subThreads = (0 until nSubs).map { s =>
        val t = new Thread(() => {
          try {
            val c = new C
            val subId = c.call("ESUB", s"srv-$s", "FROM", "0",
                "WINDOW", "64") match {
              case SimpleStr(x) => x
              case other => sys.error(s"ESUB failed: $other")
            }
            var acked = -1L
            c.sock.setSoTimeout(250)
            while (!stopSubs) {
              try {
                c.readFrame() match {
                  case PushF(Seq(_, _, Num(cur), _)) =>
                    deliveredPerSub(s).incrementAndGet()
                    if (cur - acked >= 32) {
                      c.send("EACK", subId, cur.toString); acked = cur
                    }
                  case _ => () // EACK OK replies
                }
              } catch { case _: java.net.SocketTimeoutException => () }
            }
            c.close()
          } catch { case t: Throwable => firstErr = Some(t) }
        }, s"bench-sub-$s")
        t.start(); t
      }
      val t0 = System.nanoTime()
      val writerThreads = (0 until nWriters).map { w =>
        val t = new Thread(() => {
          try {
            val c = new C
            val s = w % nSubs
            val pk = graft.core.Ids.partitionKeyForStream(s"srv-$s").toString
            while (System.nanoTime() - t0 < writeWindowNs) {
              c.call(Seq("EMAPPEND", pk) ++
                (0 until batch).flatMap(_ => Seq(s"srv-$s", "Load")): _*)
              appendedPerStream(s).addAndGet(batch)
            }
            c.close()
          } catch { case t: Throwable => firstErr = Some(t) }
        }, s"bench-writer-$w")
        t.start(); t
      }
      writerThreads.foreach(_.join(60000))
      val writeSecs = (System.nanoTime() - t0) / 1e9
      val totalAppended = appendedPerStream.map(_.get()).sum
      // phase split witness: what the subscribers managed WHILE the
      // writers held the store (vs the post-write drain below)
      val deliveredAtWriteEnd = deliveredPerSub.map(_.get()).sum
      // drain: subscribers must deliver EVERY appended event
      val drain0 = System.nanoTime()
      val drainDeadline = drain0 + 30L * 1000 * 1000 * 1000
      def fullyDelivered = (0 until nSubs).forall(s =>
        deliveredPerSub(s).get() >= appendedPerStream(s).get())
      while (!fullyDelivered && System.nanoTime() < drainDeadline)
        Thread.sleep(50)
      val drainSec = (System.nanoTime() - drain0) / 1e9
      stopSubs = true
      subThreads.foreach(_.join(5000))
      val totalDelivered = deliveredPerSub.map(_.get()).sum
      firstErr.foreach(throw _)
      if (!fullyDelivered)
        throw DrainShortfall(drainSec, totalDelivered, totalAppended)
      Result((System.nanoTime() - t00) / 1e9,
        totalAppended / writeSecs,
        totalDelivered / (writeSecs + drainSec),
        drainSec, writeSecs, deliveredAtWriteEnd,
        totalDelivered, totalAppended)
    } finally {
      srvOpt.foreach(s =>
        try s.stop() catch { case _: Throwable => () })
      graft.core.Fs.deleteRecursively(dir.toFile)
    }
  }
}
