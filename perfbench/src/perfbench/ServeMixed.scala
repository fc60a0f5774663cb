package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.api.{Commands, EventStore}
import graft.core.Ids
import graft.server.RespServer
import graft.storage.Manifest
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** `serve_mixed`: a closed loop of RESP clients over a preloaded store.
  *
  * Why: the stream heads fit the inline overlay, so every append
  * re-renders and rewrites the whole manifest, and every EGET miss and
  * ESCAN runs a Spark job. The write path, the read path and the EGET
  * read cache all do most of their work here. The traced run adds a
  * subscription tail: an ESUB from version 0 over partitions holding more
  * history than one WINDOW, so the event source catches up over several
  * micro-batches, then delivers live appends.
  */
object ServeMixed {

  final case class Params(streams: Int, events: Int, payloadBytes: Int, zipfS: Double,
      clients: Int, ownedPerClient: Int, partitions: Int, tailAppends: Int, replayOps: Int,
      warmupS: Double, drainS: Double, setups: Int)

  /** Two clients: every command plans and runs on the driver's cores, so
    * on a 4-core machine four closed-loop clients saturate it and latency
    * becomes queueing noise (15-40 % spread between runs); two reach the
    * same throughput with a few percent.
    */
  val P: Params = Params(streams = 1000, events = 8000, payloadBytes = 120, zipfS = 1.1,
    clients = math.min(2, Main.cpus), ownedPerClient = 8, partitions = 32, tailAppends = 20, replayOps = 100,
    warmupS = 2.0, drainS = 30.0, setups = 3)

  /** Op classes and their shares of the mix. */
  val Mix: Seq[(String, Double)] = Seq("eappend" -> 0.25, "emappend" -> 0.05,
    "eget" -> 0.35, "escan" -> 0.20, "esver" -> 0.10, "epseq" -> 0.05)
  val Writes = Set("eappend", "emappend")
  /** Ops per shuffled block of the mix. */
  val BlockOps = 20
  /** Share of EGETs aimed at the client's own acknowledged events. */
  val AckedGetShare = 0.2

  def generator: Seq[(String, Any)] = Seq(
    "kind" -> "closed loop", "clients" -> P.clients, "streams" -> P.streams,
    "preloaded_events" -> P.events, "payload_bytes" -> P.payloadBytes,
    "eget_zipf_exponent" -> P.zipfS, "eget_acked_share" -> AckedGetShare,
    "owned_streams_per_client" -> P.ownedPerClient, "partitions" -> P.partitions,
    "mix" -> Mix, "escan_count" -> 20, "warmup_s" -> P.warmupS,
    "traced_tail" -> s"one ESUB FROM 0 (default WINDOW, EACK every 100) over the owned streams, then ${P.tailAppends} live EAPPENDs")

  /** A preloaded store and what the benchmark knows about its contents. */
  final class Loaded(val es: EventStore, val heads: Array[Long], val wm: Map[Int, Long],
      val byRank: IndexedSeq[(String, Int, Long)], val payloadBytes: Long, val ingestS: Double)

  def streamIndex(sid: String): Int = sid.substring(3).toInt

  def setup(spark: SparkSession, args: RunArgs, k: Int): Loaded = {
    val seed = args.seed
    val es = EventStore.open(spark, args.work.resolve(s"serve-$k").toString, P.partitions)
    val hist = Gen.historyStreams(seed, P.events, P.streams)
    val counts = new Array[Long](P.streams)
    val rows = hist.zipWithIndex.map { case (s, i) =>
      val v = counts(s); counts(s) += 1
      Row(Gen.streamName(s), "Seeded", Gen.payload(seed, s, v, P.payloadBytes), i.toLong)
    }
    val schema = StructType(Seq(StructField("stream_id", StringType),
      StructField("event_name", StringType), StructField("payload", BinaryType),
      StructField("ord", LongType)))
    val t0 = System.nanoTime()
    es.ingest(spark.createDataFrame(rows.toSeq.asJava, schema), "ord")
    val ingestS = (System.nanoTime() - t0) / 1e9
    val seeded = es.events().select("event_id", "stream_id", "stream_version").collect()
      .map(r => (r.getString(0), streamIndex(r.getString(1)), r.getLong(2)))
      .sortBy(e => (e._2, e._3))
    // popularity rank -> event: a seeded permutation, so hot ids spread
    // over streams and partitions
    val rnd = Gen.rng(seed, 11)
    val perm = seeded.indices.toArray
    for (i <- perm.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    new Loaded(es, counts.map(_ - 1), es.manifest.watermarks, perm.map(seeded(_)).toIndexedSeq,
      rows.map(_.getAs[Array[Byte]](2).length.toLong).sum, ingestS)
  }

  // ----------------------------------------------------------------- clients

  /** An acknowledged event: its partition position, and when the op that
    * carried it was sent and acknowledged.
    */
  final case class Ack(stream: Int, version: Long, pid: Int, seq: Long, sendNs: Long, ackNs: Long)

  /** One op's outcome, for latency and accounting. */
  final case class Done(cls: String, startNs: Long, endNs: Long, ok: Boolean, events: Int)

  /** The reply shape both paths share: RESP decodes blobs to bytes and
    * the in-process facade returns Strings, Options and Eithers.
    */
  private def norm(v: Any): Any = v match {
    case Some(x) => norm(x)
    case None    => null
    case Left(e) => Resp3.Err(String.valueOf(e))
    case Right(x) => norm(x)
    case other   => other
  }
  private def str(v: Any): String = Resp3.text(v)
  private def lng(v: Any): Long = v match {
    case l: Long => l
    case i: Int  => i.toLong
    case other   => str(other).toLong
  }
  private def bytes(v: Any): Array[Byte] = v match {
    case b: Array[Byte] => b
    case s: String      => s.getBytes(UTF_8)
    case other          => String.valueOf(other).getBytes(UTF_8)
  }
  private def fields(v: Any): Map[String, Any] = v.asInstanceOf[scala.collection.Map[String, Any]].toMap
  private def seqOf(v: Any): Seq[Any] = v.asInstanceOf[Seq[Any]]

  /** A client's state: the streams it owns, their versions, what it has
    * acknowledged. Its op sequence comes from its own seeded stream of
    * draws; replaying that stream replays the same op shapes.
    */
  final class Client(val id: Int, L: Loaded, seed: Long) {
    val owned: Array[Int] = Array.tabulate(P.ownedPerClient)(j => j * P.clients + id)
    val version: mutable.Map[Int, Long] = mutable.Map(owned.toSeq.map(s => s -> L.heads(s)): _*)
    val acked: mutable.Map[Int, mutable.ArrayBuffer[(String, Long)]] =
      mutable.Map(owned.toSeq.map(s => s -> mutable.ArrayBuffer.empty[(String, Long)]): _*)
    val ackedIds = mutable.ArrayBuffer.empty[(String, Int, Long)]
    val ackLog = mutable.ArrayBuffer.empty[Ack]
    /** When the op in flight was sent; every event it acknowledges
      * carries this time.
      */
    private var sendNs = 0L
    val done = mutable.ArrayBuffer.empty[Done]
    val problems = mutable.ArrayBuffer.empty[String]
    var conflicts = 0L
    var appendedEvents = 0L
    var appendedBytes = 0L
    private val zipf = new Gen.Zipf(L.byRank.length, P.zipfS)

    private def problem(s: String): Unit = if (problems.length < 20) problems += s

    // the mix is dealt in shuffled blocks holding each class's exact
    // share, so every run's op composition matches the mix
    private val block = Mix.flatMap { case (c, w) => Seq.fill(math.round(w * BlockOps).toInt)(c) }.toArray
    private var dealt = block.length

    def nextClass(r: java.util.SplittableRandom): String = {
      if (dealt == block.length) {
        for (i <- block.length - 1 to 1 by -1) {
          val j = r.nextInt(i + 1); val t = block(i); block(i) = block(j); block(j) = t
        }
        dealt = 0
      }
      dealt += 1
      block(dealt - 1)
    }

    private def ownedByAnyone(s: Int) = s < P.ownedPerClient * P.clients

    /** Runs one op through `exec` (socket or in-process) and checks the
      * reply. Returns whether the op succeeded.
      */
    def step(r: java.util.SplittableRandom, cls: String,
        exec: (String, Seq[Array[Byte]]) => Any): Boolean = {
      def b(s: String) = s.getBytes(UTF_8)
      def run(args: Seq[Array[Byte]]): Any = {
        sendNs = System.nanoTime()
        norm(exec(cls, args))
      }
      def fail(reply: Any): Boolean = {
        val msg = reply match { case Resp3.Err(m) => m; case other => s"unexpected reply $other" }
        if (msg.contains("version conflict")) conflicts += 1
        problem(s"$cls: $msg")
        false
      }
      cls match {
        case "eappend" | "emappend" =>
          val s = owned(r.nextInt(owned.length))
          val h = version(s)
          val n = if (cls == "eappend") 1 else 2 + r.nextInt(2)
          val vs = (1 to n).map(h + _)
          val payloads = vs.map(v => Gen.payload(seed, s, v, P.payloadBytes))
          val sid = Gen.streamName(s)
          val reply =
            if (cls == "eappend")
              run(Seq(b("EAPPEND"), b(sid), b("Appended"), b("EXPECTED_VERSION"), b(h.toString),
                b("PAYLOAD"), payloads.head))
            else
              run(Seq(b("EMAPPEND"), b(Ids.partitionKeyForStream(sid).toString)) ++
                vs.zip(payloads).flatMap { case (v, p) =>
                  Seq(b(sid), b("Appended"), b("EXPECTED_VERSION"), b((v - 1).toString),
                    b("PAYLOAD"), p)
                })
          reply match {
            case m: scala.collection.Map[_, _] =>
              val f = fields(m)
              val evs =
                if (cls == "eappend") Seq(f)
                else seqOf(f("events")).map(fields)
              val got = evs.map(e => (str(e("event_id")), lng(e("stream_version"))))
              if (got.map(_._2) != vs) {
                problem(s"$sid: appended versions ${vs.mkString(",")} acked as ${got.map(_._2).mkString(",")}")
              }
              val pid = lng(f("partition_id")).toInt
              got.zip(evs).foreach { case ((eid, v), e) =>
                acked(s) += eid -> v
                ackedIds += ((eid, s, v))
                ackLog += Ack(s, v, pid, lng(e("partition_sequence")), sendNs, System.nanoTime())
              }
              version(s) = h + n
              appendedEvents += n
              appendedBytes += payloads.map(_.length).sum
              true
            case other => fail(other)
          }
        case "eget" =>
          // every draw is made whatever the branch, so a replay of the
          // same draw stream makes the same sequence of op classes
          val u = r.nextDouble()
          val rank = zipf.sample(r)
          val pick = r.nextInt(Int.MaxValue)
          val (eid, s, v) =
            if (ackedIds.nonEmpty && u < AckedGetShare) ackedIds(pick % ackedIds.length)
            else L.byRank(rank)
          run(Seq(b("EGET"), b(eid))) match {
            case m: scala.collection.Map[_, _] =>
              val f = fields(m)
              val ok = str(f("event_id")) == eid && str(f("stream_id")) == Gen.streamName(s) &&
                lng(f("stream_version")) == v &&
                java.util.Arrays.equals(bytes(f("payload")), Gen.payload(seed, s, v, P.payloadBytes))
              if (!ok) problem(s"EGET $eid returned another event or payload")
              ok
            case null => problem(s"EGET $eid of a committed event returned nothing"); false
            case other => fail(other)
          }
        case "escan" =>
          val s = r.nextInt(P.streams)
          val start = r.nextInt(L.heads(s).toInt + 1).toLong
          val sid = Gen.streamName(s)
          run(Seq(b("ESCAN"), b(sid), b(start.toString), b("+"), b("COUNT"), b("20"))) match {
            case m: scala.collection.Map[_, _] =>
              val evs = seqOf(fields(m)("events")).map(fields)
              val want = math.min(20L, L.heads(s) - start + 1)
              val versions = evs.map(e => lng(e("stream_version")))
              val ok = versions == versions.indices.map(start + _) &&
                (if (ownedByAnyone(s)) versions.length >= want else versions.length == want) &&
                evs.forall(e => str(e("stream_id")) == sid && java.util.Arrays.equals(
                  bytes(e("payload")), Gen.payload(seed, s, lng(e("stream_version")), P.payloadBytes)))
              if (!ok) problem(s"ESCAN $sid $start returned versions ${versions.mkString(",")}")
              ok
            case other => fail(other)
          }
        case "esver" =>
          val s = r.nextInt(P.streams)
          val sid = Gen.streamName(s)
          run(Seq(b("ESVER"), b(sid))) match {
            case null => problem(s"ESVER $sid of an existing stream returned nothing"); false
            case v @ (_: Long | _: Int) =>
              val got = lng(v)
              val ok =
                if (version.contains(s)) got == version(s)
                else if (ownedByAnyone(s)) got >= L.heads(s)
                else got == L.heads(s)
              if (!ok) problem(s"ESVER $sid = $got, preloaded head ${L.heads(s)}")
              ok
            case other => fail(other)
          }
        case "epseq" =>
          val p = r.nextInt(P.partitions)
          val floor = L.wm.getOrElse(p, -1L)
          run(Seq(b("EPSEQ"), b(p.toString))) match {
            case null => val ok = floor < 0; if (!ok) problem(s"EPSEQ $p returned nothing"); ok
            case v @ (_: Long | _: Int) =>
              val ok = lng(v) >= floor
              if (!ok) problem(s"EPSEQ $p = ${lng(v)} below preloaded $floor")
              ok
            case other => fail(other)
          }
      }
    }

    /** Runs ops until `keepGoing` says stop; returns the op count. */
    def loop(exec: (String, Seq[Array[Byte]]) => Any, r: java.util.SplittableRandom,
        keepGoing: () => Boolean, maxOps: Long = Long.MaxValue): Long = {
      var n = 0L
      while (n < maxOps && keepGoing()) {
        val cls = nextClass(r)
        val before = appendedEvents
        val t0 = System.nanoTime()
        val ok =
          try step(r, cls, exec)
          catch { case e: Exception => problem(s"$cls: $e"); false }
        done += Done(cls, t0, System.nanoTime(), ok, math.max(1, (appendedEvents - before).toInt))
        n += 1
      }
      n
    }

    /** The closing checks: gapless acked versions and a closing ESCAN
      * per owned stream that returns exactly the acked events.
      */
    def closingChecks(exec: (String, Seq[Array[Byte]]) => Any): Seq[String] =
      owned.toSeq.flatMap { s =>
        val a = acked(s).toSeq
        val sid = Gen.streamName(s)
        Checks.gaplessVersions(sid, L.heads(s), a.map(_._2)) ++ (
          if (a.isEmpty) Nil
          else norm(exec("escan", Seq("ESCAN", sid, (L.heads(s) + 1).toString, "+", "COUNT",
            (a.length + 1).toString).map(_.getBytes(UTF_8)))) match {
            case m: scala.collection.Map[_, _] =>
              val scanned = seqOf(fields(m)("events")).map(fields).map(e =>
                (str(e("event_id")), lng(e("stream_version")), bytes(e("payload")).toSeq))
              Checks.scanEqualsAcked(sid,
                a.map { case (eid, v) => (eid, v, Gen.payload(seed, s, v, P.payloadBytes).toSeq) },
                scanned)
            case other => Seq(s"closing ESCAN $sid: $other")
          })
      }
  }

  // ---------------------------------------------------------------- phases

  /** Results of one socket phase. */
  final class Phase(val clients: Seq[Client], val subs: Seq[Subscriber], val tStart: Long,
      val tEnd: Long, val conns: Seq[Resp3.Conn], val heapMb: Double, val storeBytes0: Long,
      val catchupS: Double, val backlogEnd: Long, val problems: Seq[String],
      val socketDone: Seq[Done], val tailAcks: Seq[Ack]) {
    def measured: Seq[Done] = socketDone.filter(d => d.startNs >= tStart && d.startNs < tEnd)
    def latMs(p: Done => Boolean): Seq[Double] = measured.filter(p).map(d => (d.endNs - d.startNs) / 1e6)
    /** Write latency per event: an EMAPPEND's latency is every one of its
      * events' latency.
      */
    def writeEventMs: Seq[Double] = measured.filter(d => Writes(d.cls))
      .flatMap(d => Seq.fill(d.events)((d.endNs - d.startNs) / 1e6))
    /** From sending a live append to receiving its push. */
    def deliveryMs: Seq[Double] = {
      val recv = subs.flatMap(_.delivered).map(g => (g.stream, g.version) -> g.recvNs).toMap
      tailAcks.flatMap(a => recv.get((Gen.streamName(a.stream), a.version)).map(r => (r - a.sendNs) / 1e6))
    }
  }

  /** Runs the closed loop over the socket: `warmupS` unmeasured, then
    * `seconds` measured. Traced runs then replay each client's op
    * sequence in-process (`replay`) and run the subscription tail
    * (`tail`).
    */
  def socketPhase(L: Loaded, args: RunArgs, tracer: Option[Tracer], opIds: AtomicLong,
      replay: Option[Client => Unit] = None, tail: Boolean = false): Phase = {
    val srv = new RespServer(L.es).start()
    val problems = mutable.ArrayBuffer.empty[String]
    val bytes0 = StorageProbe.bytesUnder(java.nio.file.Paths.get(L.es.root))
    try {
      val clients = (0 until P.clients).map(c => new Client(c, L, args.seed))
      val conns = clients.map(_ => new Resp3.Conn(srv.localPort, recordFrames = tracer.isDefined))
      val execs = conns.map(conn => (cls: String, a: Seq[Array[Byte]]) =>
        tracer.fold(conn.call(a))(t => t.span(s"socket.$cls", opIds.incrementAndGet())(conn.call(a))))
      val tStart = System.nanoTime() + (P.warmupS * 1e9).toLong
      val deadline = tStart + args.runNs
      val threads = clients.zip(execs).map { case (cl, exec) =>
        new Thread(() => {
          cl.loop(exec, Gen.rng(args.seed, 100, cl.id), () => System.nanoTime() < deadline)
          ()
        }, s"perfbench-client-${cl.id}")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val tEnd = System.nanoTime()
      val heapMb = Jvm.liveHeapMb()
      val socketDone = clients.flatMap(_.done).toList
      replay.foreach(f => clients.map(c => new Thread(() => f(c))).map { t => t.start(); t }
        .foreach(_.join()))

      // the subscription tail: one ESUB FROM 0 over every owned stream,
      // whose partitions hold more history than one WINDOW; once it has
      // caught up, live appends from one client, each pushed back
      val subs = if (tail) Seq(new Subscriber(srv.localPort, clients.flatMap(_.owned))) else Nil
      var catchupS = 0.0
      var backlogEnd = 0L
      val tailAcks = mutable.ArrayBuffer.empty[Ack]
      def expected = clients.flatMap(c => c.owned.toSeq.map(s => s -> c.version(s))).toMap
      subs.foreach { sub =>
        val history = expected
        sub.start()
        val c0 = System.nanoTime()
        def caughtUp = sub.count >= history.values.map(_ + 1).sum
        while (!caughtUp && System.nanoTime() - c0 < (P.drainS * 1e9).toLong && sub.error.isEmpty)
          Thread.sleep(2)
        catchupS = (System.nanoTime() - math.max(c0, sub.startNs)) / 1e9
        if (!caughtUp) problems += f"catch-up incomplete after $catchupS%.1f s"
        val cl = clients.head
        val n0 = cl.ackLog.length
        val r = Gen.rng(args.seed, 200)
        val tail0 = System.nanoTime()
        (0 until P.tailAppends).foreach(_ => cl.step(r, "eappend", execs.head))
        tailAcks ++= cl.ackLog.drop(n0)
        problems ++= Checks.ownSendTimes("tail appends", tail0,
          tailAcks.toSeq.map(a => (a.sendNs, a.ackNs)))
        backlogEnd = expected.values.map(_ + 1).sum - sub.count
        // bounded drain: every acknowledged event must reach the subscriber
        val total = expected.values.map(_ + 1).sum
        val d0 = System.nanoTime()
        while (sub.count < total && System.nanoTime() - d0 < (P.drainS * 1e9).toLong &&
            sub.error.isEmpty) Thread.sleep(5)
        Thread.sleep(200) // a duplicate delivery would arrive now
        sub.stop()
        sub.error.foreach(e => problems += s"subscriber failed: $e")
        val want = expected
        problems ++= Checks.deliveredOnce("subscription",
          sub.streams.map(s => Gen.streamName(s) -> (0L to want(s))).toMap,
          sub.delivered.map(g => (g.cursor, g.stream, g.version)))
      }
      new Phase(clients, subs, tStart, tEnd, conns, heapMb, bytes0, catchupS, backlogEnd,
        problems.toSeq, socketDone, tailAcks.toSeq)
    } finally srv.stop()
  }

  def e2e(L: Loaded, ph: Phase, setupS: Double, problems: mutable.ArrayBuffer[String])
      : (Map[String, Double], Map[String, Int]) = {
    val m = ph.measured
    val w = ph.writeEventMs
    val rd = ph.latMs(d => !Writes(d.cls))
    if (w.isEmpty) problems += "no write was measured"
    if (rd.isEmpty) problems += "no read was measured"
    val lastEnd = if (m.isEmpty) ph.tEnd else m.map(_.endNs).max
    // bytes the serving phase added to the store per payload byte it
    // appended
    val spaceAmp = (StorageProbe.bytesUnder(java.nio.file.Paths.get(L.es.root)) - ph.storeBytes0).toDouble /
      math.max(1L, ph.clients.map(_.appendedBytes).sum)
    val e = Map(
      "setup_s" -> setupS,
      "work_per_s" -> m.length / ((lastEnd - ph.tStart) / 1e9),
      "write_mean_ms" -> Stats.mean(w),
      "read_mean_ms" -> Stats.mean(rd),
      "space_amp" -> spaceAmp)
    (e, Map("work_per_s" -> m.length, "write_mean_ms" -> w.length,
      "read_mean_ms" -> rd.length, "setup_s" -> P.setups))
  }

  /** Medians the end-to-end set reports as means, and per-class reads. */
  private def workloadReadings(ph: Phase): (Map[String, Double], Map[String, Int]) = {
    val w = ph.writeEventMs
    val rd = ph.latMs(d => !Writes(d.cls))
    val eget = ph.latMs(_.cls == "eget")
    val escan = ph.latMs(_.cls == "escan")
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    (Map("workload.write_p50_ms" -> med(w), "workload.read_p50_ms" -> med(rd),
      "workload.eget_p50_ms" -> med(eget), "workload.escan_p50_ms" -> med(escan),
      "jvm.heap_live_mb" -> ph.heapMb),
      Map("workload.write_p50_ms" -> w.length, "workload.read_p50_ms" -> rd.length,
        "workload.eget_p50_ms" -> eget.length, "workload.escan_p50_ms" -> escan.length))
  }

  def run(spark: SparkSession, args: RunArgs): Outcome = {
    val problems = mutable.ArrayBuffer.empty[String]
    // several set-ups, median reported; the last one is measured
    val setups = (1 to P.setups).map { k =>
      val t0 = System.nanoTime()
      val l = setup(spark, args, k)
      ((System.nanoTime() - t0) / 1e9, l)
    }
    setups.init.foreach { case (_, l) => graft.core.Fs.deleteRecursively(new java.io.File(l.es.root)) }
    val setupS = Stats.median(setups.map(_._1))
    val L = setups.last._2
    Main.log(s"set-ups ${setups.map(_._1).map(x => f"$x%.2f").mkString(" ")} s")
    val opIds = new AtomicLong()
    val ph = socketPhase(L, args, None, opIds)
    Main.log(f"measured ${(ph.tEnd - ph.tStart) / 1e9}%.1f s")
    ph.conns.foreach(_.close())
    problems ++= ph.problems
    val exec0 = closingExec(L.es)
    ph.clients.foreach(c => problems ++= c.problems ++ c.closingChecks(exec0))
    val (e, samples) = e2e(L, ph, setupS, problems)
    val (workloadLayer, workloadSamples) = workloadReadings(ph)
    var attempted = ph.clients.map(_.done.length.toLong).sum
    var failed = ph.clients.map(_.done.count(!_.ok).toLong).sum
    var samplesAll = samples ++ workloadSamples
    graft.core.Fs.deleteRecursively(new java.io.File(L.es.root))

    val perLayer =
      if (!args.trace) Map.empty[String, Double]
      else {
        val (layer, te, tAttempted, tFailed, tProblems, tSamples) = traced(spark, args, opIds)
        attempted += tAttempted; failed += tFailed; problems ++= tProblems
        samplesAll ++= tSamples
        layer ++ workloadLayer ++ Main.EndToEnd.map { case (m, _) =>
          s"trace.overhead.$m" -> (if (e(m) == 0) 0.0 else te(m) / e(m) - 1.0)
        }
      }
    Outcome(attempted, failed, e, perLayer, samplesAll, generator, problems.toSeq)
  }

  /** In-process executor for closing checks (not timed). */
  private def closingExec(es: EventStore): (String, Seq[Array[Byte]]) => Any = {
    val cmd = new Commands(es)
    (_, a) => cmd.executeRaw(a)
  }

  /** The traced phase: a fresh set-up, the same closed loop over the
    * socket with spans and listeners on, then the start of every client's
    * op sequence replayed in-process through `Commands.executeRaw`, so
    * jobs can be attributed to the op that ran them, then the
    * subscription tail.
    */
  private def traced(spark: SparkSession, args: RunArgs, opIds: AtomicLong)
      : (Map[String, Double], Map[String, Double], Long, Long, Seq[String], Map[String, Int]) = {
    val problems = mutable.ArrayBuffer.empty[String]
    val tracer = new Tracer(spark)
    val t0 = System.nanoTime()
    val L = tracer.span("setup")(setup(spark, args, P.setups + 1))
    val setupS = (System.nanoTime() - t0) / 1e9
    val loads0 = Manifest.loads.get()
    val v0 = L.es.manifest.version
    val cmd = new Commands(L.es)
    // the replay: the start of each client's draw stream again (the same
    // op sequence, up to `replayOps`), continuing the client's versions
    val replay = (cl: Client) => {
      val n = math.min(cl.done.length, P.replayOps).toLong
      cl.done.clear()
      cl.loop((cls, a) => tracer.span(s"api.$cls", opIds.incrementAndGet())(cmd.executeRaw(a)),
        Gen.rng(args.seed, 100, cl.id), () => true, n)
      ()
    }
    val win = new ExecWindow(tracer)
    val ph = socketPhase(L, args, Some(tracer), opIds, Some(replay), tail = true)
    val exec = win.close()
    problems ++= ph.problems
    val commits = L.es.manifest.version - v0
    val loads = Manifest.loads.get() - loads0
    val appended = ph.clients.map(_.appendedEvents).sum
    val frames = ph.conns.flatMap(_.frames.flatMap { case (q, a) => Seq(q, a) })
    val wireBytes = ph.conns.map(c => c.bytesIn + c.bytesOut).sum
    val socketOps = ph.socketDone.length.toLong
    val socketFailed = ph.socketDone.count(!_.ok).toLong
    ph.conns.foreach(_.close())
    ph.clients.foreach(c => problems ++= c.problems ++ c.closingChecks(closingExec(L.es)))
    tracer.stop()

    val spans = tracer.spanSeq
    val serviceMs = (cls: Set[String]) =>
      spans.filter(s => s.name.startsWith("api.") && cls(s.name.stripPrefix("api."))).map(_.durNs / 1e6)
    def gap(cls: Set[String]): Double = {
      val a = ph.latMs(d => cls(d.cls)); val b = serviceMs(cls)
      if (a.isEmpty || b.isEmpty) 0.0 else Stats.median(a) - Stats.median(b)
    }
    val self = PerLayer.OpClasses.map(c => c -> tracer.selfTimes(s"api.$c")).toMap
    val api = PerLayer.OpClasses.flatMap { c =>
      val ss = self(c)
      val n = ss.length.toDouble
      val ctr = ss.map(s => Option(tracer.bySpan.get(s._1.id)))
      if (ss.isEmpty) Nil
      else Seq(
        s"api.service_ms.$c" -> ss.map(_._1.durNs / 1e6).sum / n,
        s"api.driver_self_ms.$c" -> ss.map(_._2 / 1e6).sum / n,
        s"api.spark_jobs_per_op.$c" -> ctr.map(_.fold(0L)(_.jobs)).sum / n,
        s"api.exec_cpu_ms_per_op.$c" -> ctr.map(_.fold(0L)(_.cpuNs)).sum / 1e6 / n)
    }.toMap

    // streaming: micro-batches of the subscriptions, and for each
    // delivered append the batch whose offset range covered it
    val batches = tracer.batches.asScala.toSeq
    val durs = batches.map(_.durMs.toDouble)
    val rows = batches.map(_.rows).sum
    val delivered = ph.subs.map(_.count).sum
    val pickup = ph.tailAcks.flatMap { a =>
      batches.find(b => b.startOffset.getOrElse(a.pid, -1L) < a.seq &&
        b.endOffset.getOrElse(a.pid, -1L) >= a.seq).map(b => (b.startNs - a.ackNs) / 1e6)
    }
    val streaming = Map(
      "streaming.batches" -> batches.length.toDouble,
      "streaming.batch_ms_p50" -> (if (durs.isEmpty) 0.0 else Stats.median(durs)),
      "streaming.batch_ms_tail" -> Stats.tail(durs).map(_._2).getOrElse(0.0),
      "streaming.source_rows" -> rows.toDouble,
      "streaming.delivered_per_source_row" -> (if (rows == 0) 0.0 else delivered.toDouble / rows),
      "streaming.pickup_wait_ms" -> (if (pickup.isEmpty) 0.0 else Stats.median(pickup)),
      "streaming.backlog_end" -> ph.backlogEnd.toDouble,
      "workload.delivery_p50_ms" -> (if (ph.deliveryMs.isEmpty) 0.0 else Stats.median(ph.deliveryMs)),
      "workload.catchup_s" -> ph.catchupS) ++
      PerLayer.StreamPhases.map(p => s"streaming.phase_ms.$p" ->
        Stats.mean(batches.map(_.phases.getOrElse(p, 0L).toDouble)))

    val cache = L.es.cacheInfo
    val hits = cache("hits").asInstanceOf[Long]; val misses = cache("misses").asInstanceOf[Long]
    val (te, _) = e2e(L, ph, setupS, mutable.ArrayBuffer.empty[String])
    val layer = Map(
      "server.codec_us" -> CodecProbe.microsPerFrame(frames),
      "server.rtt_minus_service_ms.write" -> gap(Writes),
      "server.rtt_minus_service_ms.eget" -> gap(Set("eget")),
      "server.rtt_minus_service_ms.escan" -> gap(Set("escan")),
      "server.bytes_per_op" -> (if (socketOps == 0) 0.0 else wireBytes.toDouble / socketOps),
      "api.read_cache_hit_ratio" -> (if (hits + misses == 0) 0.0 else hits.toDouble / (hits + misses)),
      "api.read_cache_evictions" -> cache("evictions").asInstanceOf[Long].toDouble,
      "api.version_conflicts" -> ph.clients.map(_.conflicts).sum.toDouble,
      "api.ingest_s" -> L.ingestS) ++ api ++ exec ++ streaming ++
      StorageProbe.readings(L.es, commits, loads, appended)
    tracer.dump(args.out.resolve(s"${args.workload}-seed${args.seed}-spans.jsonl"))
    val replayed = ph.clients.map(_.done.length.toLong).sum
    val tFailed = socketFailed + ph.clients.map(_.done.count(!_.ok).toLong).sum
    val samples = PerLayer.OpClasses.map(c => s"api.service_ms.$c" -> self(c).length).toMap ++
      Map("server.codec_us" -> frames.length, "trace.spans" -> spans.length,
        "streaming.batches" -> batches.length, "streaming.pickup_wait_ms" -> pickup.length,
        "workload.delivery_p50_ms" -> ph.deliveryMs.length)
    graft.core.Fs.deleteRecursively(new java.io.File(L.es.root))
    (layer, te, socketOps + replayed, tFailed, problems.toSeq, samples)
  }
}
