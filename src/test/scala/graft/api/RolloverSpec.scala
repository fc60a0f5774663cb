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
class RolloverSpec extends AnyFunSuite with BeforeAndAfterAll {

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
    val es = EventStore.open(spark, Files.createTempDirectory("graft-roll-race-").toString, 2)
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

  test("ingest, ingestStream and compact() never roll over and queue no merge") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-roll-bulk-").toString
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

    val src = Files.createTempDirectory("graft-roll-src-").toString
    (0 until 3).foreach(i => Seq((s"b-$i", "S", i.toLong)).toDF("stream_id", "event_name", "ord")
      .coalesce(1).write.mode(SaveMode.Append).parquet(src))
    val q = es.ingestStream(spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(src), "ord", Files.createTempDirectory("graft-roll-ck-").toString)
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
