package graft.api

import java.nio.file.Files

import graft.core._
import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Model-based property tests of the append path, porting the
  * reference's proptest suite (`writer_thread_pool.rs:1560-1830`):
  * random batches of events with random expected versions are applied
  * both to the store and to a trivial in-memory model; outcomes and
  * head states must agree, sequences must stay gapless and rollovers
  * must keep the files per partition bounded. A
  * differential test runs each random batch through `appendMany` on
  * one store and one `append` per event on a twin: both must answer
  * alike. Plus a multi-threaded append race: the per-store lock must
  * serialize writers like the reference's single writer thread per
  * bucket.
  */
class AppendPropertySpec extends AnyFunSuite with BeforeAndAfterAll
    with graft.PropHelpers {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // generators mirroring the reference's (`arb_stream_id`, etc.)
  private val genStreamId: Gen[String] = for {
    h <- Gen.alphaLowerChar
    t <- Gen.listOfN(5, Gen.oneOf(Gen.alphaLowerChar, Gen.numChar, Gen.const('_')))
  } yield (h :: t).mkString

  private val genExpected: Gen[ExpectedVersion] = Gen.oneOf(
    Gen.const(ExpectedVersion.Any),
    Gen.const(ExpectedVersion.Exists),
    Gen.const(ExpectedVersion.Empty),
    Gen.chooseNum(0L, 5L).map(ExpectedVersion.Exact(_)))

  private val genBatch: Gen[List[EventInput]] =
    Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, for {
      sid <- genStreamId
      ev <- genExpected
    } yield EventInput(sid, "PropEvt", expectedVersion = ev)))

  test("random append batches agree with the in-memory model") {
    // two partitions and 600 batches: each partition gets hundreds of
    // files, so rollovers merge runs of append files and runs of merged
    // files while the model checks go on
    val es = EventStore.open(
      spark, Files.createTempDirectory("graft-prop-").toString, 2)
    val model = collection.mutable.Map.empty[String, Long] // head versions

    forAllSampled(genBatch, runs = 600) { batch =>
      val results = es.appendMany(batch)
      // apply the same semantics to the model
      results.zip(batch).foreach { case (r, in) =>
        val current = CurrentVersion.fromOption(model.get(in.streamId))
        val expectOk = in.expectedVersion.gapFrom(current) == VersionGap.None
        assert(r.isRight == expectOk,
          s"store=${r.isLeft} model=${!expectOk} for ${in.streamId} " +
            s"${in.expectedVersion} vs $current")
        if (expectOk) {
          val v = current.next
          model(in.streamId) = v
          assert(r.toOption.get.streamVersion == v)
        }
      }
      // store heads == model heads for every touched stream
      batch.map(_.streamId).distinct.foreach { sid =>
        assert(es.sver(sid) == model.get(sid))
      }
    }

    // files per partition stay within 15 per size tier once the merges
    // have run (no ingest or compact() files here)
    es.awaitRollover()
    val events = (0 until 2).map(p => es.pseq(p).fold(0L)(_ + 1))
    val tiers = Iterator.iterate(events.max)(_ / 16).takeWhile(_ >= 16).size
    assert(tiers >= 2, s"$events events per partition cross fewer than two tiers")
    assert(es.storeInfo("max_partition_files").asInstanceOf[Long] <= 15L * (tiers + 1))
    assert(es.storeInfo("rollovers").asInstanceOf[Long] > 16)

    // final global invariant: gapless per-partition sequences
    import org.apache.spark.sql.functions._
    es.events().groupBy(col("partition_id"))
      .agg(count(lit(1)).as("n"), max(col("partition_sequence")).as("hi"),
        countDistinct(col("partition_sequence")).as("d"))
      .collect().foreach { r =>
        assert(r.getAs[Long]("hi") == r.getAs[Long]("n") - 1)
        assert(r.getAs[Long]("d") == r.getAs[Long]("n"))
      }
  }

  test("appendMany answers exactly as one append per event (differential)") {
    // a small stream pool: batches repeat streams and span partitions
    val pool = (0 until 10).map(i => s"d-$i")
    assert(pool.map(Ids.partitionIdForStream(_, 4)).distinct.size > 1)
    val genDiffBatch: Gen[List[(String, ExpectedVersion)]] =
      Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, Gen.zip(
        Gen.oneOf(pool),
        Gen.oneOf(Gen.const(ExpectedVersion.Any), Gen.const(ExpectedVersion.Empty),
          Gen.const(ExpectedVersion.Exists), Gen.chooseNum(0L, 4L).map(ExpectedVersion.Exact(_))))))
    def fresh() = EventStore.open(spark, Files.createTempDirectory("graft-diff-").toString, 4)
    val many = fresh()
    val single = fresh()
    var batchNo = 0
    var sameStreamAccepted = 0

    forAllSampled(genDiffBatch, runs = 40) { batch =>
      batchNo += 1
      val inputs = batch.zipWithIndex.map { case ((sid, ev), i) =>
        EventInput(sid, "Diff", s"$batchNo-$i".getBytes, expectedVersion = ev)
      }
      val got = many.appendMany(inputs)
      val want = inputs.map(single.append(_))
      // ids and timestamps are each store's own; the rest must agree
      def outcome(r: Either[String, AppendResult]) = r.map(a =>
        (a.partitionKey, a.partitionId, a.partitionSequence, a.streamVersion))
      assert(got.map(outcome) == want.map(outcome))
      sameStreamAccepted += got.zip(inputs).collect { case (Right(_), in) => in.streamId }
        .groupBy(identity).count(_._2.size > 1)
      pool.foreach(sid => assert(many.sver(sid) == single.sver(sid), sid))
      (0 until 4).foreach(p => assert(many.pseq(p) == single.pseq(p), p))
    }
    assert(sameStreamAccepted > 0, "no batch accepted one stream twice")

    def rows(es: EventStore, p: Int) = es.pscan(p, count = 100000).events.map(r => (
      r.getAs[String]("partition_key"), r.getAs[Long]("partition_sequence"),
      r.getAs[String]("stream_id"), r.getAs[Long]("stream_version"),
      r.getAs[String]("event_name"), new String(r.getAs[Array[Byte]]("payload"))))
    (0 until 4).foreach { p =>
      assert(rows(many, p) == rows(single, p), p)
    }
    assert((0 until 4).map(rows(many, _).size).sum > 40)
  }

  test("concurrent appenders: serialized writes keep sequences gapless") {
    val es = EventStore.open(
      spark, Files.createTempDirectory("graft-conc-").toString, 4)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { t =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int =
            (0 until 25).count(i => es.append(
              EventInput(s"conc-${t % 3}", s"e$t-$i")).isRight)
        })
      }
      val ok = futures.map(_.get()).sum
      assert(ok == 200) // Any expectation: every append succeeds
    } finally pool.shutdown()

    assert((0 until 3).map(i => es.sver(s"conc-$i").get + 1).sum == 200)
    import org.apache.spark.sql.functions._
    es.events().groupBy(col("stream_id"))
      .agg(count(lit(1)).as("n"), max(col("stream_version")).as("hi"),
        countDistinct(col("stream_version")).as("d"))
      .collect().foreach { r =>
        assert(r.getAs[Long]("hi") == r.getAs[Long]("n") - 1)
        assert(r.getAs[Long]("d") == r.getAs[Long]("n"))
      }
  }
}
