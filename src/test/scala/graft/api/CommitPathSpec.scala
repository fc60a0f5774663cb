package graft.api

import java.nio.file.Files
import java.util.UUID

import scala.jdk.CollectionConverters._

import graft.core._
import graft.storage.Manifest
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The append commit path: manifest deltas, the snapshot file index and
  * failure handling. Every write path, interleaved at random, must
  * leave a manifest that loads back to exactly the store's in-memory
  * state and a store that, reopened from disk, answers every command
  * the same way.
  */
class CommitPathSpec extends AnyFunSuite with BeforeAndAfterAll
    with graft.PropHelpers {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def in(sid: String, name: String = "E"): EventInput =
    EventInput(sid, name, name.getBytes, Array.emptyByteArray)

  private val ingestSchema = StructType(Seq(
    StructField("stream_id", StringType), StructField("event_name", StringType),
    StructField("ord", LongType)))

  private def ingest(es: EventStore, sids: Seq[String]): Long =
    es.ingest(spark.createDataFrame(
      sids.zipWithIndex.map { case (s, i) => Row(s, "I", i.toLong) }.asJava, ingestSchema), "ord")

  /** every partition's sequences are exactly 0..watermark, once each */
  private def assertGapless(es: EventStore): Unit =
    es.events().groupBy(col("partition_id"))
      .agg(count(lit(1)).as("n"), max(col("partition_sequence")).as("hi"),
        org.apache.spark.sql.functions.countDistinct(col("partition_sequence")).as("d"))
      .collect()
      .foreach { r =>
        assert(r.getAs[Long]("d") == r.getAs[Long]("n"), s"duplicate sequences: $r")
        assert(r.getAs[Long]("hi") == r.getAs[Long]("n") - 1, s"gap: $r")
        assert(es.manifest.watermark(r.getAs[Int]("partition_id")) == r.getAs[Long]("hi"))
      }

  test("an inline EAPPEND over 20,000 inline heads commits a delta under 1 KB") {
    val dir = Files.createTempDirectory("graft-delta-size-").toString
    val es = EventStore.open(spark, dir, 4)
    ingest(es, (0 until 20000).map(i => s"h-$i"))
    assert(es.manifest.streamHeads.size == 20000)
    val mdir = Manifest.dirFor(dir)
    assert(Files.size(mdir.resolve(s"v${es.manifest.version}.json")) > 500 * 1024)
    (0 until Manifest.CheckpointEvery).foreach { i =>
      assert(es.append(in(s"h-${i * 7}")).isRight)
      val v = es.manifest.version
      val bytes = Files.size(mdir.resolve(s"v$v.json"))
      if (v % Manifest.CheckpointEvery != 0) assert(bytes < 1024, s"v$v: $bytes B")
      else assert(bytes > 500 * 1024, s"checkpoint v$v: $bytes B")
    }
    assert(Manifest.load(dir).contains(es.manifest))
  }

  test("a failed manifest commit removes the append's files") {
    val dir = Files.createTempDirectory("graft-commit-fail-").toString
    val es = EventStore.open(spark, dir, 2)
    (0 until 3).foreach(i => assert(es.append(in(s"f-$i")).isRight))
    def failNextCommit[A](write: => A): Unit = {
      // a directory where the commit writes its temp file
      val blocker = Manifest.dirFor(dir).resolve(s".v${es.manifest.version + 1}.json.tmp")
      Files.createDirectories(blocker)
      try intercept[java.io.IOException](write)
      finally Files.delete(blocker)
    }
    failNextCommit(es.append(in("f-0")))
    failNextCommit(es.mappend(Ids.partitionKeyForStream("f-1"), Seq(in("f-1"), in("f-9"))))
    failNextCommit(es.appendMany(Seq(in("f-0"), in("f-1"), in("f-2"))))
    assert(es.append(in("f-0")).isRight)
    assert(es.appendMany(Seq(in("f-1"), in("f-2"))).forall(_.isRight))
    assertGapless(es)
    assert(es.events().count() == 6)
    assert(es.sver("f-0") == Some(1L) && es.sver("f-9").isEmpty)
    // the surviving files are exactly the committed events' files
    val onDisk = spark.read.schema(EventSchema.schema).parquet(s"$dir/events").count()
    assert(onDisk == 6)
    assert(Manifest.load(dir).contains(es.manifest))
  }

  test("a store whose newest versions do not resolve reopens at the last complete one") {
    val dir = Files.createTempDirectory("graft-commit-dead-").toString
    val es = EventStore.open(spark, dir, 1)
    (0 until 6).foreach(i => assert(es.append(in(s"d-$i")).isRight))
    assert(es.manifest.version == 6)
    // v4 lost: the deltas v5 and v6 above it no longer resolve
    Files.delete(Manifest.dirFor(dir).resolve("v4.json"))
    val reopened = EventStore.open(spark, dir, 1)
    assert(reopened.events().count() == 3, "files of the dead versions are orphans")
    assert(reopened.append(in("d-9")).isRight)
    // the commit went past the dead versions: v5/v6 never resolve over it
    assert(reopened.manifest.version == 7)
    assert(Manifest.load(dir).contains(reopened.manifest))
    assert(reopened.pscan(0).events.map(_.getAs[Long]("partition_sequence")) == (0L to 3L))
    assertGapless(reopened)
  }

  test("command reads racing compact() retry on the new snapshot") {
    val dir = Files.createTempDirectory("graft-commit-race-").toString
    val es = EventStore.open(spark, dir, 1)
    val sids = (0 until 3).map(i => s"r-$i")
    (0 until 2).foreach { round =>
      // one file per event: a read spans many files, so compaction
      // moves the log away while reads of the old snapshot are open
      (0 until 120).foreach(i => assert(es.append(in(sids(i % 3))).isRight))
      val all = es.events().orderBy("partition_sequence").collect().toSeq
      val ids = all.map(r => UUID.fromString(r.getAs[String]("event_id")))
      // by name: `events()` puts the partition column last
      def byName(rs: Seq[Row]): Seq[Seq[Any]] =
        norm(rs.map(r => Row.fromSeq(EventSchema.columnNames.map(r.getAs[Any](_)))))
      def read(): Seq[Any] =
        Seq(byName(es.pscan(0, count = 1000).events)) ++
          sids.map(s => byName(es.scan(s, count = 1000).events)) ++
          Seq(ids.head, ids.last).flatMap(id =>
            Seq(byName(es.get(id).toSeq), byName(es.readTransaction(id))))
      val expected = Seq(byName(all)) ++
        sids.map(s => byName(all.filter(_.getAs[String]("stream_id") == s))) ++
        Seq(all.head, all.last).flatMap(r => Seq(byName(Seq(r)), byName(Seq(r))))
      assert(read() == expected)

      val compacting = new java.util.concurrent.atomic.AtomicBoolean(true)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val reads = new java.util.concurrent.atomic.AtomicInteger()
      val readers = (0 until 3).map { _ =>
        val t = new Thread(() =>
          while (compacting.get()) {
            try assert(read() == expected, s"round $round")
            catch { case e: Throwable => errors.add(e) }
            reads.incrementAndGet()
          })
        t.start(); t
      }
      while (reads.get() < 3) Thread.sleep(5)
      try es.compact()
      finally { compacting.set(false); readers.foreach(_.join()) }
      Option(errors.peek()).foreach(e => fail(s"round $round: ${errors.size} failed reads", e))
      assert(read() == expected)
    }
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      Files.copy(p, to.resolve(from.relativize(p).toString))
    } finally walk.close()
  }

  test("a crash inside compact() reopens to the log as it was") {
    import java.nio.file.{Path, Paths}
    // the three states compact() can leave: rewritten log written only,
    // old log moved aside, rewritten log moved in
    val crashes: Seq[(String, (Path, Path, Path) => Unit)] = Seq(
      "rewritten log written" -> ((_, _, _) => ()),
      "old log moved aside" -> ((ev, pre, _) => Files.move(ev, pre)),
      "rewritten log moved in" -> { (ev, pre, tmp) =>
        Files.move(ev, pre); Files.move(tmp, ev)
      })
    crashes.foreach { case (crash, step) =>
      val dir = Files.createTempDirectory("graft-compact-crash-").toString
      val es = EventStore.open(spark, dir, 3)
      streams.foreach(s => assert(es.append(in(s)).isRight))
      ingest(es, streams ++ streams.take(3))
      (0 until 12).foreach(i => assert(es.append(in(streams(i % 5))).isRight))
      def rows(e: EventStore) = norm(e.events()
        .orderBy("partition_id", "partition_sequence").collect().toSeq)
      val expectedRows = rows(es)
      val expected = answers(es)
      val wm = es.manifest
      val heads = streams.map(s => s -> es.sver(s)).toMap

      // a real compacted tree: compact a copy of the store
      val copy = Files.createTempDirectory("graft-compact-copy-").resolve("store")
      copyTree(Paths.get(dir), copy)
      EventStore.open(spark, copy.toString, 3).compact()
      val ev = Paths.get(dir, "events")
      val pre = Paths.get(dir, EventStore.PreCompact)
      val tmp = Paths.get(dir, EventStore.CompactTmp)
      copyTree(copy.resolve("events"), tmp)
      step(ev, pre, tmp)

      val reopened = EventStore.open(spark, dir, 3)
      assert(!Files.exists(pre) && !Files.exists(tmp), crash)
      assert(rows(reopened) == expectedRows, crash)
      assert(answers(reopened) == expected, crash)
      val r = reopened.append(in("p-1")).toOption.get
      assert(r.partitionSequence == wm.watermark(r.partitionId) + 1, crash)
      assert(r.streamVersion == heads("p-1").get + 1, crash)
      assertGapless(reopened)
      reopened.compact()
      assertGapless(reopened)
    }
  }

  test("a crash inside a rollover swap reopens to the log as it was") {
    import java.nio.file.{Path, Paths}
    val dir = Files.createTempDirectory("graft-roll-crash-").toString
    val es = EventStore.open(spark, dir, 1)
    val pdir = Paths.get(dir, "events", "partition_id=0")
    def dataFiles(d: Path) = Fs.list(d).filter(_.getFileName.toString.endsWith(".parquet"))
    // 15 files of one and two events: one short of a full run
    (0 until 13).foreach(i => assert(es.append(in(streams(i % 5))).isRight))
    (0 until 2).foreach(i => assert(es.mappend(Ids.partitionKeyForStream("p-0"),
      Seq(in("p-5", s"T$i"), in("p-6", s"T$i"))).isRight))
    // hold the worker: the tree with all 16 inputs of the run on disk
    val gate = new java.util.concurrent.CountDownLatch(1)
    EventStore.rolloverWorker.execute(() => gate.await())
    assert(es.append(in("p-1")).isRight)
    val preSwap = Files.createTempDirectory("graft-roll-pre-").resolve("store")
    copyTree(Paths.get(dir), preSwap)
    gate.countDown()
    es.awaitRollover()
    assert(es.storeInfo("rollovers") == 1L && es.storeInfo("rolled_files") == 16L)
    val Seq(merged) = dataFiles(pdir)
    val inputs = dataFiles(preSwap.resolve("events/partition_id=0")).sortBy(_.getFileName.toString)
    assert(inputs.size == 16)

    def rows(e: EventStore) = norm(e.events()
      .orderBy("partition_id", "partition_sequence").collect().toSeq)
    val expectedRows = rows(es)
    val expected = answers(es)
    val wm = es.manifest.watermark(0)
    val head = es.sver("p-1").get

    // the states a crash can leave: the merged file still hidden, the
    // merged file renamed in next to all its inputs, or next to half
    val crashes: Seq[(String, Path => Unit, Int)] = Seq(
      ("merged file still hidden", (p: Path) =>
        Files.copy(merged, p.resolve(EventStore.InflightPrefix + merged.getFileName)), 16),
      ("merged file next to all inputs", (p: Path) =>
        Files.copy(merged, p.resolve(merged.getFileName)), 1),
      ("merged file next to half the inputs", { (p: Path) =>
        Files.copy(merged, p.resolve(merged.getFileName))
        inputs.take(8).foreach(f => Files.delete(p.resolve(f.getFileName)))
      }, 1))
    crashes.foreach { case (crash, step, filesLeft) =>
      val copy = Files.createTempDirectory("graft-roll-state-").resolve("store")
      copyTree(preSwap, copy)
      step(copy.resolve("events/partition_id=0"))
      val reopened = EventStore.open(spark, copy.toString, 1)
      val left = Fs.list(copy.resolve("events/partition_id=0")).map(_.getFileName.toString)
      assert(left.size == filesLeft && !left.exists(_.startsWith(".")), crash)
      assert(rows(reopened) == expectedRows, crash)
      assert(answers(reopened) == expected, crash)
      val r = reopened.append(in("p-1")).toOption.get
      assert(r.partitionSequence == wm + 1 && r.streamVersion == head + 1, crash)
      assertGapless(reopened)
    }

    // a file whose range partly overlaps another's is never written: a
    // planted one fails the open with the typed error
    (0 until 3).foreach(i => assert(es.append(in(streams(i))).isRight))
    val spill = Files.createTempDirectory("graft-roll-overlap-").resolve("rows").toString
    es.events().where(col("partition_sequence").between(10, 19)).drop("partition_id")
      .coalesce(1).write.parquet(spill)
    val planted = Files.createTempDirectory("graft-roll-planted-").resolve("store")
    copyTree(Paths.get(dir), planted)
    dataFiles(Paths.get(spill)).foreach(f =>
      Files.copy(f, planted.resolve("events/partition_id=0").resolve(f.getFileName)))
    val err = intercept[OverlappingFilesException](EventStore.open(spark, planted.toString, 1))
    assert(err.partition == 0)
  }

  // ---- property: every write path, interleaved

  private sealed trait Op
  private final case class Append(sid: String) extends Op
  private final case class MAppend(key: String, sids: Seq[String]) extends Op
  private final case class Many(sids: Seq[String]) extends Op
  private final case class Ingest(sids: Seq[String]) extends Op
  private case object Compact extends Op
  private case object Fold extends Op

  private val streams = (0 until 8).map(i => s"p-$i")
  private val genSid = Gen.oneOf(streams)
  private val genOp: Gen[Op] = Gen.frequency(
    5 -> genSid.map(Append(_)),
    3 -> Gen.zip(genSid, Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, genSid)))
      .map { case (k, ss) => MAppend(k, ss) },
    2 -> Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, genSid)).map(Many(_)),
    1 -> Gen.chooseNum(1, 6).flatMap(Gen.listOfN(_, genSid)).map(Ingest(_)),
    1 -> Gen.const(Compact),
    1 -> Gen.const(Fold))
  private val genRun: Gen[(Int, List[Op])] = for {
    np <- Gen.oneOf(1, 3)
    n <- Gen.chooseNum(8, 14)
    ops <- Gen.listOfN(n, genOp)
  } yield (np, ops)

  private def norm(rows: Seq[Row]): Seq[Seq[Any]] = rows.map(_.toSeq.map {
    case b: Array[Byte] => b.toSeq
    case v => v
  })

  /** every command answer the store gives over the test's streams */
  private def answers(es: EventStore): Seq[Any] = {
    val pscans = (0 until es.numPartitions).map(p => es.pscan(p, count = 1000))
    val ids = pscans.flatMap(_.events).map(r => UUID.fromString(r.getAs[String]("event_id")))
    streams.flatMap { s =>
      val all = es.scan(s)
      val page = es.scan(s, Some(1L), None, 2)
      Seq(norm(all.events), all.hasMore, norm(page.events), page.hasMore, es.sver(s))
    } ++ pscans.map(r => norm(r.events)) ++
      (0 until es.numPartitions).map(es.pseq) ++
      ids.map(id => norm(es.get(id).toSeq)) ++
      ids.map(id => norm(es.readTransaction(id)))
  }

  test("random write mix: the manifest loads back to the store's state, reopened stores agree") {
    forAllSampled(genRun, runs = 3) { case (np, ops) =>
      val dir = Files.createTempDirectory("graft-commit-prop-").toString
      val es = EventStore.open(spark, dir, np, maxInlineHeads = 4)
      ops.foreach { op =>
        op match {
          case Append(s) => assert(es.append(in(s)).isRight)
          case MAppend(k, ss) =>
            assert(es.mappend(Ids.partitionKeyForStream(k), ss.map(in(_))).isRight)
          case Many(ss) => assert(es.appendMany(ss.map(in(_))).forall(_.isRight))
          case Ingest(ss) => ingest(es, ss)
          case Compact => es.compact()
          case Fold => es.foldHeads()
        }
        assert(Manifest.load(dir).getOrElse(Manifest.empty(np)) == es.manifest, s"after $op")
        val reopened = EventStore.open(spark, dir, np, maxInlineHeads = 4)
        assert(reopened.manifest == es.manifest)
        assert(answers(reopened) == answers(es), s"after $op")
      }
      assertGapless(es)
    }
  }
}
