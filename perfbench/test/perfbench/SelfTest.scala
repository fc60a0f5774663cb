package perfbench

/** Tests of the benchmark's own logic: the reporting rule, self time,
  * the generator, the load generator's codec, and that every checker
  * rejects a deliberately broken output. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on any failure.
  */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case t: Throwable => println(s"  threw $t"); false }
    if (ok) passed += 1 else { failures += 1; println(s"FAIL $name") }
  }

  def main(args: Array[String]): Unit = {
    // ---------------------------------------------------- percentile rule
    val xs = (1 to 100).map(_.toDouble)
    check("nearest-rank p50 of 1..100 is 50")(Stats.percentile(xs, 50) == 50.0)
    check("nearest-rank p90 of 1..100 is 90")(Stats.percentile(xs, 90) == 90.0)
    check("p90 from 100 samples has 10 beyond it")(Stats.beyond(100, 90) == 10)
    check("p90 is reportable from 100 samples")(Stats.reportable(100, 90))
    check("p90 is not reportable from 99 samples")(!Stats.reportable(99, 90))
    check("p95 needs 200 samples")(
      !Stats.reportable(199, 95) && Stats.reportable(200, 95))
    check("p50 needs 20 samples")(!Stats.reportable(19, 50) && Stats.reportable(20, 50))
    check("tail picks the highest supported percentile")(
      Stats.tail((1 to 1000).map(_.toDouble)).map(_._1).contains(99.0) &&
        Stats.tail(xs).map(_._1).contains(90.0) &&
        Stats.tail(xs.take(10)).isEmpty)
    check("median of an even sample averages the middle pair")(
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    // ---------------------------------------------------------- self time
    check("self time without children is the duration")(Stats.selfTime(0, 100, Nil) == 100)
    check("overlapping children count once")(
      Stats.selfTime(0, 100, Seq((10L, 40L), (30L, 60L))) == 50)
    check("nested children count once")(
      Stats.selfTime(0, 100, Seq((10L, 90L), (20L, 30L))) == 20)
    check("children sticking out of the parent are clipped")(
      Stats.selfTime(50, 100, Seq((0L, 60L), (90L, 200L))) == 30)
    check("disjoint children add up")(
      Stats.selfTime(0, 100, Seq((0L, 10L), (50L, 60L))) == 80)

    // ---------------------------------------------------------- generator
    check("payload is a pure function of its arguments")(
      java.util.Arrays.equals(Gen.payload(7, 3, 9, 120), Gen.payload(7, 3, 9, 120)) &&
        !java.util.Arrays.equals(Gen.payload(7, 3, 9, 120), Gen.payload(8, 3, 9, 120)) &&
        Gen.payload(7, 3, 9, 120).length == 120)
    val c = Gen.corpus(5, 2000, 30, 500, 0.1, 0.1)
    check("the corpus is a function of the seed")(
      Gen.corpus(5, 2000, 30, 500, 0.1, 0.1).texts.sameElements(c.texts))
    check("exact copies equal their original")(c.exactOf.forall { case (d, o) => c.texts(d) == c.texts(o) })
    check("near copies differ from their original by one word")(c.nearOf.forall { case (d, o) =>
      val a = c.texts(d).split(' '); val b = c.texts(o).split(' ')
      a.length == b.length && a.zip(b).count { case (x, y) => x != y } == 1
    })
    check("planted shares are near the requested ones")(
      math.abs(c.exactOf.size / 2000.0 - 0.1) < 0.03 && math.abs(c.nearOf.size / 2000.0 - 0.1) < 0.03)
    val z = new Gen.Zipf(1000, 1.1)
    val r = Gen.rng(1, 2)
    val draws = Seq.fill(20000)(z.sample(r))
    check("zipf favours low ranks")(draws.count(_ == 0) > draws.count(_ == 10) * 5 &&
      draws.forall(d => d >= 0 && d < 1000))

    // -------------------------------------------------------------- codec
    val req = Resp3.encodeCommand(Seq("EGET", "x").map(_.getBytes("UTF-8")))
    check("commands encode as arrays of blobs")(
      new String(req, "UTF-8") == "*2\r\n$4\r\nEGET\r\n$1\r\nx\r\n")
    val reply = "%2\r\n$1\r\na\r\n:5\r\n$1\r\nb\r\n*2\r\n+OK\r\n_\r\n"
    val v = Resp3.decode(new java.io.ByteArrayInputStream(reply.getBytes("UTF-8")))
    check("maps, numbers, arrays, simple strings and nulls decode")(v match {
      case m: Map[_, _] =>
        m.asInstanceOf[Map[String, Any]]("a") == 5L &&
          m.asInstanceOf[Map[String, Any]]("b") == Vector(Resp3.Simple("OK"), null)
      case _ => false
    })
    val push = ">2\r\n+message\r\n-ERR x\r\n"
    check("pushes and errors decode")(
      Resp3.decode(new java.io.ByteArrayInputStream(push.getBytes("UTF-8"))) ==
        Resp3.Push(Vector(Resp3.Simple("message"), Resp3.Err("ERR x"))))

    // ----------------------------------------------------------- checkers
    check("gapless versions pass")(Checks.gaplessVersions("s", 4, Seq(5L, 6L, 7L)).isEmpty)
    check("a skipped version is rejected")(Checks.gaplessVersions("s", 4, Seq(5L, 7L)).nonEmpty)
    check("a repeated version is rejected")(Checks.gaplessVersions("s", 4, Seq(5L, 5L)).nonEmpty)
    check("an append that never started at head + 1 is rejected")(
      Checks.gaplessVersions("s", 4, Seq(6L, 7L)).nonEmpty)

    val acked = Seq(("a", 5L, Seq[Byte](1)), ("b", 6L, Seq[Byte](2)))
    check("a closing scan equal to the acked events passes")(
      Checks.scanEqualsAcked("s", acked, acked).isEmpty)
    check("a closing scan missing an event is rejected")(
      Checks.scanEqualsAcked("s", acked, acked.take(1)).nonEmpty)
    check("a closing scan with another payload is rejected")(
      Checks.scanEqualsAcked("s", acked, Seq(acked.head, ("b", 6L, Seq[Byte](9)))).nonEmpty)

    val want = Map("s" -> Seq(0L, 1L, 2L), "t" -> Seq(0L, 1L))
    val good = Seq((0L, "s", 0L), (1L, "t", 0L), (2L, "s", 1L), (3L, "s", 2L), (4L, "t", 1L))
    check("exactly-once ordered delivery passes")(Checks.deliveredOnce("sub", want, good).isEmpty)
    check("a duplicated delivery is rejected")(
      Checks.deliveredOnce("sub", want, good :+ ((5L, "s", 2L))).nonEmpty)
    check("a missing delivery is rejected")(
      Checks.deliveredOnce("sub", want, good.filterNot(_._3 == 2L).zipWithIndex.map {
        case ((_, s, v), i) => (i.toLong, s, v)
      }).nonEmpty)
    check("an out-of-order delivery is rejected")(
      Checks.deliveredOnce("sub", want, Seq((0L, "s", 1L), (1L, "s", 0L), (2L, "s", 2L),
        (3L, "t", 0L), (4L, "t", 1L))).nonEmpty)
    check("a cursor gap is rejected")(
      Checks.deliveredOnce("sub", want, good.map { case (k, s, v) => (if (k > 2) k + 1 else k, s, v) }).nonEmpty)

    val sent = Seq((10L, 20L), (25L, 30L), (31L, 40L))
    check("ops timed from their own send pass")(Checks.ownSendTimes("t", 5L, sent).isEmpty)
    check("an op timed from the previous op's send is rejected")(
      Checks.ownSendTimes("t", 5L, sent.updated(1, (10L, 30L))).nonEmpty)
    check("an op timed from before the sequence started is rejected")(
      Checks.ownSendTimes("t", 15L, sent).nonEmpty)

    check("gapless partition sequences pass")(
      Checks.gaplessSequences(Seq((0, 0L, 9L, 10L, 10L), (1, 0L, 0L, 1L, 1L))).isEmpty)
    check("a sequence gap is rejected")(Checks.gaplessSequences(Seq((0, 0L, 10L, 10L, 10L))).nonEmpty)
    check("a repeated sequence is rejected")(Checks.gaplessSequences(Seq((0, 0L, 9L, 10L, 9L))).nonEmpty)

    // documents 0..5: 0 <- 1 exact copy, 2 <- 3 near copy
    val groups = Map(0 -> Seq(1))
    val rows = Seq((0L, 0L, true), (1L, 0L, false), (2L, 2L, true), (3L, 2L, false),
      (4L, 4L, true), (5L, 5L, true))
    check("a correct dedup output passes")(Checks.dedupOutput(6, rows, groups).isEmpty)
    check("a split exact-duplicate group is rejected")(
      Checks.dedupOutput(6, rows.updated(1, (1L, 1L, true)), groups).nonEmpty)
    check("an exact group with two keepers is rejected")(
      Checks.dedupOutput(6, rows.updated(1, (1L, 0L, true)), groups).nonEmpty)
    check("a document missing from the output is rejected")(
      Checks.dedupOutput(6, rows.init, groups).nonEmpty)
    check("a document twice in the output is rejected")(
      Checks.dedupOutput(6, rows.init :+ rows.head, groups).nonEmpty)
    check("recall counts near copies in their original's cluster")(
      Checks.recall(rows, Map(3 -> 2)) == 1.0 &&
        Checks.recall(rows.updated(3, (3L, 3L, true)), Map(3 -> 2)) == 0.0)

    println(s"perfbench self-test: $passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
