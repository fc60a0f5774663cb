package graft.api

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import graft.core._
import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Segment rollover: merges race appends and command reads without
  * changing an answer, and only appends ever request one.
  */
class RolloverSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def payload(sid: String, v: Long) = s"$sid:$v".getBytes

  /** the expected version that lets version `v` of a stream in */
  private def expect(v: Long) =
    if (v == 0) ExpectedVersion.Empty else ExpectedVersion.Exact(v - 1)

  /** an acknowledged event as the model knows it */
  private final case class Acked(sid: String, version: Long, pid: Int, seq: Long, tx: Seq[String])

  test("reads racing rollovers across several tiers answer as the model") {
    val es = EventStore.open(spark, tempDir("graft-roll-race-").toString, 2)
    val acked = new ConcurrentHashMap[String, Acked]()
    // the ids readers pick from: added once every event of their
    // transaction is in `acked`
    val readable = ConcurrentHashMap.newKeySet[String]()
    val heads = new ConcurrentHashMap[String, Long]()
    val done = new AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new AtomicLong

    // each writer owns its streams, so it knows their next versions
    def writer(w: Int): Thread = new Thread(() => try {
      val sids = (0 until 4).map(i => s"w$w-$i")
      val next = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      val rnd = new scala.util.Random(w)
      (0 until 450).foreach { i =>
        val sid = sids(rnd.nextInt(sids.size))
        if (i % 7 == 0) {
          // a two-event transaction on one stream
          val v = next(sid)
          val r = es.mappend(Ids.partitionKeyForStream(sid), Seq(v, v + 1).map(x =>
            EventInput(sid, "T", payload(sid, x), expectedVersion = expect(x))))
            .fold(e => throw new AssertionError(e), identity)
          val ids = r.events.map(_.eventId)
          r.events.foreach(e => acked.put(e.eventId,
            Acked(sid, e.streamVersion, e.partitionId, e.partitionSequence, ids)))
          readable.addAll(ids.asJava)
          next(sid) = v + 2
        } else {
          val v = next(sid)
          val e = es.append(EventInput(sid, "E", payload(sid, v), expectedVersion = expect(v)))
            .fold(e => throw new AssertionError(e), identity)
          acked.put(e.eventId, Acked(sid, v, e.partitionId, e.partitionSequence, Seq(e.eventId)))
          readable.add(e.eventId)
          next(sid) = v + 1
        }
        heads.put(sid, next(sid) - 1)
      }
    } catch { case e: Throwable => errors.add(e) })

    def check(row: Row, a: Acked): Unit = {
      assert(row.getAs[String]("stream_id") == a.sid)
      assert(row.getAs[Long]("stream_version") == a.version)
      assert(row.getAs[Int]("partition_id") == a.pid)
      assert(row.getAs[Long]("partition_sequence") == a.seq)
      assert(row.getAs[Array[Byte]]("payload").toSeq == payload(a.sid, a.version).toSeq)
    }

    def reader(r: Int): Thread = new Thread(() => {
      val rnd = new scala.util.Random(100 + r)
      while (!done.get()) try {
        val ids = readable.asScala.toVector
        if (ids.nonEmpty) {
          val id = ids(rnd.nextInt(ids.size))
          val a = acked.get(id)
          rnd.nextInt(4) match {
            case 0 => check(es.get(UUID.fromString(id)).get, a)
            case 1 =>
              val tx = es.readTransaction(UUID.fromString(a.tx.head))
              assert(tx.map(_.getAs[String]("event_id")) == a.tx)
              tx.foreach(row => check(row, acked.get(row.getAs[String]("event_id"))))
            case 2 =>
              // every version up to the head acknowledged before the read
              val head = math.max(heads.getOrDefault(a.sid, -1L), a.version)
              val got = es.scan(a.sid, count = 100000).events
              assert(got.map(_.getAs[Long]("stream_version")) == got.indices.map(_.toLong))
              assert(got.size > head)
              got.foreach(row => assert(row.getAs[Array[Byte]]("payload").toSeq ==
                payload(a.sid, row.getAs[Long]("stream_version")).toSeq))
            case _ =>
              val wm = es.pseq(a.pid).get
              val got = es.pscan(a.pid, count = 100000).events
              assert(got.map(_.getAs[Long]("partition_sequence")) == got.indices.map(_.toLong))
              assert(got.size > wm)
              got.filter(row => acked.containsKey(row.getAs[String]("event_id")))
                .foreach(row => check(row, acked.get(row.getAs[String]("event_id"))))
          }
          reads.incrementAndGet()
        }
      } catch { case e: Throwable => errors.add(e) }
    })

    val writers = (0 until 2).map(writer)
    val readers = (0 until 3).map(reader)
    (writers ++ readers).foreach(_.start())
    writers.foreach(_.join())
    done.set(true)
    readers.foreach(_.join())
    Option(errors.peek()).foreach(e => fail(s"${errors.size} failed operations", e))
    es.awaitRollover()

    assert(reads.get() > 100)
    // the writers crossed two tiers: runs of one-event files and runs of
    // merged files were both merged
    val info = es.storeInfo
    assert(info("rollovers").asInstanceOf[Long] > 2 * 16)
    assert(info("rollover_failures") == 0L)
    assert(info("max_partition_files").asInstanceOf[Long] <= 15L * 3)
    val all = es.events().collect().toSeq
    assert(all.size == acked.size)
    all.foreach(row => check(row, acked.get(row.getAs[String]("event_id"))))
    heads.asScala.foreach { case (sid, v) => assert(es.sver(sid).contains(v)) }
  }

  /** the data files on disk, by path */
  private def filesOnDisk(dir: String): Set[String] = {
    val walk = Files.walk(java.nio.file.Paths.get(dir, "events"))
    try walk.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).toSet
    finally walk.close()
  }

  /** the files a DataFrame of `events()` reads, by path */
  private def inputFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet

  test("an events() DataFrame taken before a rollover swap reads exactly its snapshot") {
    val dir = tempDir("graft-roll-pin-").toString
    val es = EventStore.open(spark, dir, 1)
    (0 until 15).foreach(i => assert(es.append(EventInput(s"pin-${i % 3}", "E")).isRight))
    val before = es.events()
    // the 16th append fills the run: the swap replaces the 15 files the
    // DataFrame lists, and the new file it does not list
    assert(es.append(EventInput("pin-0", "E")).isRight)
    es.awaitRollover()
    assert(es.storeInfo("rollovers") == 1L && es.storeInfo("data_files") == 1L)
    assert(before.count() == 15)
    assert(before.select("partition_sequence").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L to 14L))
    assert(es.storeInfo("retired_files") == 15L && es.storeInfo("pinned_snapshots") == 1L)
    // the next events() releases the pin: the retired files go
    val after = es.events()
    assert(after.count() == 16)
    assert(es.storeInfo("retired_files") == 0L && es.storeInfo("pinned_snapshots") == 1L)
    assert(filesOnDisk(dir) == inputFiles(after))
  }

  test("readers racing rollovers and compact() answer as the model, and leave only the index's files") {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, min}
    import graft.streaming.Subscriptions
    val dir = tempDir("graft-roll-swaps-").toString
    val es = EventStore.open(spark, dir, 2)
    // three streams in each partition
    val sids = (0 until 100).map(i => s"s-$i").groupBy(Ids.partitionIdForStream(_, 2))
      .values.flatMap(_.take(3)).toVector
    val acked = new ConcurrentHashMap[String, Acked]()
    val ackedIds = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val heads = new ConcurrentHashMap[String, Long]()
    val done = new AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val scans, frames = new AtomicLong

    // one writer: appends that roll over across two tiers (300 events
    // per partition between compactions), a compact() every 600 appends
    val writer = new Thread(() => try {
      val rnd = new scala.util.Random(7)
      (0 until 1800).foreach { i =>
        val sid = sids(rnd.nextInt(sids.size))
        val v = heads.getOrDefault(sid, -1L) + 1
        val e = es.append(EventInput(sid, "E", payload(sid, v), expectedVersion = expect(v)))
          .fold(e => throw new AssertionError(e), identity)
        acked.put(e.eventId, Acked(sid, v, e.partitionId, e.partitionSequence, Seq(e.eventId)))
        ackedIds.add(e.eventId)
        heads.put(sid, v)
        if (i % 600 == 599) es.compact()
      }
    } catch { case e: Throwable => errors.add(e) })

    // events(): one DataFrame, three jobs; each sees the same snapshot
    val frameReader = new Thread(() => while (!done.get()) try {
      val lo = acked.size
      val df = es.events()
      val n = df.count()
      val parts = df.groupBy(col("partition_id"))
        .agg(min(col("partition_sequence")), max(col("partition_sequence")), count(lit(1)),
          countDistinct(col("partition_sequence"))).collect()
      val rows = df.select("event_id", "partition_id", "partition_sequence", "stream_version")
        .collect()
      val hi = acked.size
      assert(n >= lo && n <= hi + 1, s"$n events outside [$lo, ${hi + 1}]")
      assert(parts.map(_.getLong(3)).sum == n && rows.length == n)
      parts.foreach(r => assert(r.getLong(1) == 0L && r.getLong(2) == r.getLong(3) - 1 &&
        r.getLong(4) == r.getLong(3), s"partition not gapless: $r"))
      rows.foreach { r =>
        Option(acked.get(r.getString(0))).foreach(a =>
          assert((r.getInt(1), r.getLong(2), r.getLong(3)) == (a.pid, a.seq, a.version)))
      }
      assert(ackedIds.asScala.take(lo).forall(rows.map(_.getString(0)).toSet))
      frames.incrementAndGet()
    } catch { case e: Throwable => errors.add(e) })

    // EGET and ESCAN against the acknowledged events
    val commandReader = new Thread(() => {
      val rnd = new scala.util.Random(11)
      while (!done.get()) try {
        if (!ackedIds.isEmpty) {
          val id = ackedIds.get(rnd.nextInt(ackedIds.size))
          val a = acked.get(id)
          val head = heads.get(a.sid)
          val row = es.get(UUID.fromString(id)).get
          assert((row.getAs[String]("stream_id"), row.getAs[Long]("stream_version"),
            row.getAs[Int]("partition_id"), row.getAs[Long]("partition_sequence")) ==
            (a.sid, a.version, a.pid, a.seq))
          val got = es.scan(a.sid, count = 100000).events
          assert(got.map(_.getAs[Long]("stream_version")) == got.indices.map(_.toLong))
          assert(got.size > head)
          got.foreach(r => assert(r.getAs[Array[Byte]]("payload").toSeq ==
            payload(a.sid, r.getAs[Long]("stream_version")).toSeq))
          scans.incrementAndGet()
        }
      } catch { case e: Throwable => errors.add(e) }
    })

    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val sub = Subscriptions.deliver(
      Subscriptions.subscribe(es, Subscriptions.Matcher(allPartitions = true), window = 200),
      tempDir("graft-roll-swaps-ck-").toString, byStream = false)(rows => rows.foreach(r =>
        delivered.add((r.getAs[Int]("partition_id"), r.getAs[Long]("partition_sequence")))))
    try {
      Seq(writer, frameReader, commandReader).foreach(_.start())
      writer.join()
      done.set(true)
      frameReader.join()
      commandReader.join()
      sub.processAllAvailable()
    } finally sub.stop()
    Option(errors.peek()).foreach(e => fail(s"${errors.size} failed operations", e))
    assert(frames.get() >= 3 && scans.get() > 20)
    es.awaitRollover()
    assert(es.storeInfo("rollovers").asInstanceOf[Long] > 2 * 16)
    assert(es.storeInfo("rollover_failures") == 0L)

    val model = acked.values.asScala.map(a => (a.pid, a.seq)).toSeq.sorted
    assert(delivered.asScala.toSeq.sorted == model)
    // once every reader is done, the disk holds exactly the index's files
    val last = es.events()
    assert(last.count() == acked.size)
    assert(es.storeInfo("retired_files") == 0L && es.storeInfo("pinned_snapshots") == 1L)
    assert(filesOnDisk(dir) == inputFiles(last))
    assert(es.storeInfo("data_files") == filesOnDisk(dir).size.toLong)
  }

  test("ingest, ingestStream and compact() never roll over and queue no merge") {
    import spark.implicits._
    val dir = tempDir("graft-roll-bulk-").toString
    val es = EventStore.open(spark, dir, 1)
    def files() = es.storeInfo("data_files").asInstanceOf[Long]
    def requests() = es.rolloversQueued
    def rows() = es.events().orderBy("partition_sequence").collect().toSeq
      .map(r => EventSchema.columnNames.map(r.getAs[Any](_)).map {
        case b: Array[Byte] => b.toSeq
        case v => v
      })
    val schema = StructType(Seq(StructField("stream_id", StringType),
      StructField("event_name", StringType), StructField("ord", LongType)))
    // one-row ingests: each leaves one file, together a full run of tier 0
    (0 until 16).foreach(i =>
      es.ingest(spark.createDataFrame(Seq(Row(s"b-${i % 3}", "I", i.toLong)).asJava, schema), "ord"))
    assert(files() == 16 && requests() == 0)

    val src = tempDir("graft-roll-src-").toString
    (0 until 3).foreach(i => Seq((s"b-$i", "S", i.toLong)).toDF("stream_id", "event_name", "ord")
      .coalesce(1).write.mode(SaveMode.Append).parquet(src))
    val q = es.ingestStream(spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(src), "ord", tempDir("graft-roll-ck-").toString)
    try q.processAllAvailable() finally q.stop()
    assert(files() == 19 && requests() == 0)

    // the first append finds the full run and requests it: the merge
    // reads back the files Spark wrote
    val ingested = rows()
    assert(es.append(EventInput("b-1", "E")).isRight)
    assert(requests() == 1)
    es.awaitRollover()
    assert(es.storeInfo("rollovers") == 1L && files() == 5)
    assert(rows().init == ingested && rows().size == 20)

    es.compact()
    assert(files() == 1 && requests() == 1)
    assert(rows().init == ingested)
  }
}
