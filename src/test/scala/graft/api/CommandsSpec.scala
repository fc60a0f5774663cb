package graft.api

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Walks every command like the reference's comprehensive client test
  * (`sierradb-client/examples/comprehensive_test.rs`), including the
  * argument grammar edge cases.
  */
class CommandsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val es =
    EventStore.open(spark, Files.createTempDirectory("graft-cmd-").toString, 8)
  private lazy val cmd = new Commands(es)

  override def afterAll(): Unit = spark.stop()

  test("EAPPEND returns the response fields and assigns versions") {
    val r1 = cmd.eappend("cmd-stream", "Created", "PAYLOAD", """{"name":"john"}""")
    assert(r1.isRight)
    val m1 = r1.toOption.get
    assert(m1("stream_version") == 0L)
    assert(m1("partition_sequence") == 0L)

    val r2 = cmd.eappend("cmd-stream", "Updated", "EXPECTED_VERSION", "0")
    assert(r2.toOption.get("stream_version") == 1L)

    assert(cmd.eappend("cmd-stream", "Conflict", "EXPECTED_VERSION", "0").isLeft)
    assert(cmd.eappend("cmd-stream", "Bad", "EXPECTED_VERSION", "bogus").isLeft)
    assert(cmd.eappend("s", "dup", "COUNT", "1", "COUNT", "2").isLeft)
  }

  test("EMAPPEND atomic multi-stream batch in one partition") {
    val pk = graft.core.Ids.partitionKeyForStream("multi").toString
    val r = cmd.emappend(pk, Seq(
      ("multi", "A", Some("empty")),
      ("multi", "B", Some("0")),
      ("multi-b", "C", None)))
    assert(r.isRight)
    val m = r.toOption.get
    assert(m("first_partition_sequence") == 0L)
    assert(m("last_partition_sequence") == 2L)
  }

  test("EGET by id; Null for absent") {
    val id = cmd.eappend("get-stream", "E").toOption.get("event_id").toString
    val got = cmd.eget(id)
    assert(got.toOption.get.isDefined)
    val ev = got.toOption.get.get
    assert(ev("stream_id") == "get-stream")
    assert(ev("event_name") == "E")
    // encode_event field order
    assert(ev.keys.toSet.contains("timestamp"))
    assert(cmd.eget(java.util.UUID.randomUUID().toString).toOption.get.isEmpty)
    assert(cmd.eget("not-a-uuid").isLeft)
  }

  test("ESCAN range grammar: -/+, COUNT, has_more") {
    (1 to 7).foreach(i => cmd.eappend("scan-s", s"e$i"))
    val all = cmd.escan("scan-s", "-", "+").toOption.get
    assert(all("has_more") == false)
    assert(all("events").asInstanceOf[Seq[_]].size == 7)

    val page = cmd.escan("scan-s", "-", "+", "COUNT", "3").toOption.get
    assert(page("has_more") == true)
    assert(page("events").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("stream_version")) == Seq(0L, 1L, 2L))

    val mid = cmd.escan("scan-s", "2", "4").toOption.get
    assert(mid("events").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("stream_version")) == Seq(2L, 3L, 4L))

    assert(cmd.escan("scan-s", "+", "-").isLeft) // + invalid as start
    assert(cmd.escan("scan-s", "0", "-").isLeft) // - invalid as end
  }

  test("EPSCAN accepts partition id or partition-key uuid") {
    cmd.eappend("pscan-s", "E1"); cmd.eappend("pscan-s", "E2")
    val pk = graft.core.Ids.partitionKeyForStream("pscan-s")
    val byId = cmd.epscan(
      graft.core.Ids.partitionIdFor(graft.core.Ids.partitionHash(pk), 8).toString,
      "-", "+").toOption.get
    val byKey = cmd.epscan(pk.toString, "-", "+").toOption.get
    assert(byId("events").asInstanceOf[Seq[Map[String, Any]]].map(_("event_id")) ==
      byKey("events").asInstanceOf[Seq[Map[String, Any]]].map(_("event_id")))
  }

  test("ESVER/EPSEQ: value or Null") {
    cmd.eappend("ver-s", "E")
    assert(cmd.esver("ver-s") == Right(Some(0L)))
    assert(cmd.esver("missing-stream") == Right(None))
    assert(cmd.esver("").isLeft)
    val pk = graft.core.Ids.partitionKeyForStream("ver-s")
    assert(cmd.epseq(pk.toString).toOption.get.isDefined)
  }

  test("HELLO/PING/INFO") {
    assert(cmd.hello(2).isLeft)
    val h = cmd.hello(3).toOption.get
    assert(h("server") == "sierraspark")
    assert(h("num_partitions") == "8")
    assert(cmd.ping() == "PONG")
  }

  test("INFO CACHE: reference key set, counters move with hits/misses") {
    // exact key parity with `info.rs:30-113`
    val keys = Set("hits", "misses", "hit_ratio", "entries", "memory_bytes",
      "max_bytes", "block_size_bytes", "evictions")
    assert(cmd.info("CACHE").keySet == keys)

    val r = cmd.eappend("cache-s", "E").toOption.get
    val id = r("event_id").toString
    val before = cmd.info()
    cmd.eget(id) // first lookup: miss + fill
    cmd.eget(id) // second: hit
    val after = cmd.info()
    assert(after("misses").asInstanceOf[Long] >
      before("misses").asInstanceOf[Long])
    assert(after("hits").asInstanceOf[Long] >
      before("hits").asInstanceOf[Long])
    assert(after("entries").asInstanceOf[Long] >= 1L)
    val ratio = after("hit_ratio").asInstanceOf[Double]
    // 3-decimal rounding like the reference
    assert(ratio >= 0.0 && ratio <= 1.0 && math.abs(ratio * 1000 - math.round(ratio * 1000)) < 1e-9)
  }

  test("EGET TRANSACTION returns every event of a multi-event EMAPPEND") {
    val pk = graft.core.Ids.partitionKeyForStream("tx-s")
    val r = cmd.emappend(pk.toString,
      Seq(("tx-s", "A", None), ("tx-s", "B", None), ("tx-other", "C", None)))
    val ids = r.toOption.get("events").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("event_id").toString)
    assert(ids.size == 3)
    // any member event id recovers the whole transaction from its
    // offset: the FIRST id yields all 3, in partition-sequence order
    val tx = cmd.egetTransaction(ids.head).toOption.get
    assert(tx.map(_("event_id").toString) == ids)
    assert(tx.map(_("event_name").toString) == Seq("A", "B", "C"))
    // wire form
    val wire = cmd.execute(Seq("EGET", ids.head, "TRANSACTION")).toOption.get
      .asInstanceOf[Seq[Map[String, Any]]]
    assert(wire.map(_("event_id").toString) == ids)
    // single-event append: flag short-circuit, returns exactly itself
    val single = cmd.eappend("tx-single", "S").toOption.get("event_id").toString
    assert(cmd.egetTransaction(single).toOption.get.map(_("event_id").toString)
      == Seq(single))
  }

  test("EMAPPEND per-event options: payload/metadata/timestamp/event_id round-trip") {
    val pk = graft.core.Ids.partitionKeyForStream("opt-s")
    val eid = graft.core.Ids.newEventId(graft.core.Ids.partitionHash(pk))
    val r = cmd.execute(Seq("EMAPPEND", pk.toString,
      "opt-s", "A", "PAYLOAD", "p-one", "METADATA", "m-one",
      "TIMESTAMP", "1700000000000", "EVENT_ID", eid.toString,
      "EXPECTED_VERSION", "empty",
      "opt-s", "B", "PAYLOAD", "p-two"))
    assert(r.isRight, r)
    val ids = r.toOption.get.asInstanceOf[Map[String, Any]]("events")
      .asInstanceOf[Seq[Map[String, Any]]].map(_("event_id").toString)
    assert(ids.head == eid.toString)
    val got = cmd.eget(ids.head).toOption.get.get
    assert(new String(got("payload").asInstanceOf[Array[Byte]]) == "p-one")
    assert(new String(got("metadata").asInstanceOf[Array[Byte]]) == "m-one")
    assert(got("timestamp") == 1700000000000L)
    val got2 = cmd.eget(ids(1)).toOption.get.get
    assert(new String(got2("payload").asInstanceOf[Array[Byte]]) == "p-two")
    // duplicate option per event rejected
    assert(cmd.execute(Seq("EMAPPEND", pk.toString,
      "opt-s", "C", "PAYLOAD", "x", "PAYLOAD", "y")).isLeft)
  }

  test("string-level execute dispatches every command") {
    val r = cmd.execute(Seq("EAPPEND", "exec-s", "Created", "PAYLOAD", "{}"))
    assert(r.isRight)
    val id = r.toOption.get.asInstanceOf[Map[String, Any]]("event_id").toString
    assert(cmd.execute(Seq("EGET", id)).isRight)
    assert(cmd.execute(Seq("ESVER", "exec-s")) == Right(Some(0L)))
    assert(cmd.execute(Seq("ESCAN", "exec-s", "-", "+", "COUNT", "10")).isRight)
    val pk = graft.core.Ids.partitionKeyForStream("exec-s").toString
    assert(cmd.execute(Seq("EPSCAN", pk, "-", "+")).isRight)
    assert(cmd.execute(Seq("EPSEQ", pk)).isRight)
    assert(cmd.execute(Seq(
      "EMAPPEND", pk, "exec-s", "A", "EXPECTED_VERSION", "0", "exec-s", "B")).isRight)
    assert(cmd.execute(Seq("ESUB", "exec-s", "FROM", "LATEST", "WINDOW", "50")).isRight)
    assert(cmd.execute(Seq("ESUB", "a", "b", "FROM", "MAP", "a=1", "b=2")).isRight)
    assert(cmd.execute(Seq("EPSUB", "*", "FROM", "0")).isRight)
    assert(cmd.execute(Seq("EACK", "sub-1", "42")) == Right("OK"))
    assert(cmd.execute(Seq("HELLO", "3")).isRight)
    assert(cmd.execute(Seq("PING")) == Right("PONG"))
    assert(cmd.execute(Seq("INFO", "CACHE")).isRight)
    assert(cmd.execute(Seq("NOSUCH")).isLeft)
    assert(cmd.execute(Seq("ESUB", "FROM", "LATEST")).isLeft)
    assert(cmd.execute(Seq("EMAPPEND", pk)).isLeft)
  }

  test("fuzz: random token arrays never crash, garbage yields ERR") {
    // analogue of the reference's RESP command fuzzer
    // (`fuzz/fuzz_targets/commands.rs`): arbitrary tokens must produce
    // Left(...) or a valid Right, never throw
    val rnd = new scala.util.Random(42)
    val vocab = Seq("EAPPEND", "EGET", "ESCAN", "EPSCAN", "ESVER", "EPSEQ",
      "ESUB", "EPSUB", "EACK", "HELLO", "PING", "INFO", "EMAPPEND",
      "-", "+", "0", "9999999999", "-1", "FROM", "WINDOW", "MAP", "COUNT",
      "EXPECTED_VERSION", "LATEST", "", "s", "a=b", "not-a-uuid",
      " ", "漢字", "x" * 300)
    (0 until 500).foreach { _ =>
      val n = rnd.nextInt(8)
      val args = (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
      try cmd.execute(args)
      catch {
        case e: Throwable => fail(s"execute($args) threw: $e")
      }
    }
    assert(cmd.execute(Seq("EAPPEND")).isLeft)
    assert(cmd.execute(Seq("ESCAN", "s", "+", "-", "COUNT", "-5")).isLeft)
  }

  test("ESUB/EPSUB build subscriptions with FROM grammar") {
    assert(cmd.esub(Seq("scan-s"), Some("LATEST")).isRight)
    assert(cmd.esub(Seq("scan-s"), Some("3")).isRight)
    assert(cmd.esub(Seq("a", "b"), Some("MAP a=1,b=2")).isRight)
    assert(cmd.esub(Seq("a"), Some("MAP a=x")).isLeft)
    assert(cmd.epsub("*").isRight)
    assert(cmd.epsub("0,1,2").isRight)
    assert(cmd.epsub("bogus").isLeft)
  }

  test("EAPPEND, EMAPPEND, EGET miss, EGET TRANSACTION, ESCAN and EPSCAN launch no Spark job") {
    val store = EventStore.open(spark,
      Files.createTempDirectory("graft-cmd-jobless-").toString, 8)
    val c = new Commands(store)
    // files from both writers: a bulk ingest (Spark) and appends (driver)
    import spark.implicits._
    store.ingest((0 until 40).map(i => (s"jl-${i % 5}", "Seeded", i.toLong))
      .toDF("stream_id", "event_name", "ord"), "ord")
    assert(c.eappend("jl-0", "warm").isRight)
    Thread.sleep(500) // listener bus is async: let the set-up's jobs land first

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val id = c.eappend("jl-1", "A", "EXPECTED_VERSION", "7").toOption.get("event_id")
      val pk = graft.core.Ids.partitionKeyForStream("jl-2").toString
      val tx = c.emappend(pk, Seq(("jl-2", "B", None), ("jl-2b", "C", None)))
        .toOption.get("events").asInstanceOf[Seq[Map[String, Any]]].head("event_id")
      assert(c.eget(id.toString).toOption.get.exists(_("event_name") == "A"))
      assert(c.eget(java.util.UUID.randomUUID().toString).toOption.get.isEmpty)
      assert(c.egetTransaction(tx.toString).toOption.get.map(_("event_name")) == Seq("B", "C"))
      val scan = c.escan("jl-1", "-", "+", "COUNT", "3").toOption.get
      assert(scan("has_more") == true &&
        scan("events").asInstanceOf[Seq[Map[String, Any]]].size == 3)
      assert(c.epscan("0", "-", "+").isRight)
      Thread.sleep(500) // let any job event land
      assert(jobs.get() == 0, s"command path launched ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
