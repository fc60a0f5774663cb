package graft.api

import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import graft.core._
import graft.streaming.{GraftEventMicroBatchStream, SeqVectorOffset}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.connector.read.streaming.{Offset => V2Offset, ReadLimit}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The command reads (EGET, EGET TRANSACTION, ESCAN, EPSCAN) are served
  * from the driver by footer-pruned parquet reads; [[EventStore.events]]
  * is the Spark scan of the same files. Random stores built from every
  * write path — bulk ingest, EAPPEND, EMAPPEND, multi-partition
  * appendMany, compaction — must answer every command exactly as the
  * Spark plans over `events()` do, including past an uncommitted
  * orphan file and across partition keys sharing one stream name. The
  * streaming source must read exactly a batch's (start, end] range of
  * each partition from the same stores, and the driver-written files
  * must read back field for field through Spark and the source.
  */
class CommandReadDifferentialSpec extends AnyFunSuite with BeforeAndAfterAll
    with graft.PropHelpers {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private sealed trait Op
  private final case class Ingest(sids: Seq[String]) extends Op
  private final case class Append(sid: String, keyOf: Option[String]) extends Op
  private final case class MAppend(keyOf: String, sids: Seq[String]) extends Op
  private final case class Many(sids: Seq[String]) extends Op
  private case object Compact extends Op

  private val streams = Seq("shared", "alpha", "beta", "gamma", "delta", "eps")
  private val genSid = Gen.oneOf(streams)
  private val genOp: Gen[Op] = Gen.frequency(
    2 -> Gen.chooseNum(1, 12).flatMap(Gen.listOfN(_, genSid)).map(Ingest(_)),
    4 -> Gen.zip(genSid, Gen.option(genSid)).map { case (s, k) => Append(s, k) },
    3 -> Gen.zip(genSid, Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, genSid)))
      .map { case (k, ss) => MAppend(k, ss) },
    2 -> Gen.chooseNum(2, 6).flatMap(Gen.listOfN(_, genSid)).map(Many(_)),
    1 -> Gen.const(Compact))
  private val genStore: Gen[(Int, List[Op], Long)] = for {
    np <- Gen.oneOf(1, 3, 4)
    n <- Gen.chooseNum(4, 10)
    ops <- Gen.listOfN(n, genOp)
    seed <- Gen.chooseNum(0L, Long.MaxValue)
  } yield (np, ops, seed)

  /** metadata cycles through empty, null and non-empty blobs */
  private def input(sid: String, i: Int): EventInput = EventInput(sid, s"E$i",
    payload = s"payload-$sid-$i".getBytes,
    metadata = i % 3 match {
      case 0 => Array.emptyByteArray
      case 1 => null
      case _ => s"""{"i":$i}""".getBytes
    })

  /** Build the store; returns a reader handle opened on the final
    * committed state, after which one more append's manifest commit is
    * rolled back — the reader then sees an uncommitted file above its
    * watermark, as after a crash between rename and commit.
    */
  private def build(np: Int, ops: Seq[Op]): (EventStore, String) = {
    val dir = Files.createTempDirectory("graft-diff-").toString
    val es = EventStore.open(spark, dir, np)
    var i = 0
    def next(): Int = { i += 1; i }
    // two partition keys share the stream name "shared" in every store
    es.append(input("shared", next()))
    es.mappend(Ids.partitionKeyForStream("alpha"), Seq(input("shared", next())))
    val schema = StructType(Seq(
      StructField("stream_id", StringType), StructField("event_name", StringType),
      StructField("payload", BinaryType), StructField("metadata", BinaryType),
      StructField("ord", LongType)))
    ops.foreach {
      case Ingest(sids) =>
        val rows = sids.map { s =>
          val in = input(s, next()); Row(s, in.eventName, in.payload, in.metadata, i.toLong)
        }
        es.ingest(spark.createDataFrame(rows.asJava, schema), "ord")
      case Append(s, k) =>
        es.append(input(s, next()), k.map(Ids.partitionKeyForStream))
      case MAppend(k, sids) =>
        es.mappend(Ids.partitionKeyForStream(k), sids.map(s => input(s, next())))
      case Many(sids) => es.appendMany(sids.map(s => input(s, next())))
      case Compact => es.compact()
    }
    val reader = EventStore.open(spark, dir, np)
    val lostVersion = es.manifest.version + 1
    es.append(input(streams(i % streams.size), next()))
    Files.delete(graft.storage.Manifest.dirFor(dir).resolve(s"v$lostVersion.json"))
    (reader, dir)
  }

  /** field values by name (`events()` puts the partition column last) */
  private def norm(r: Row): Seq[Any] = EventSchema.columnNames.map(r.getAs[Any](_) match {
    case b: Array[Byte] => b.toSeq
    case v => v
  })
  private def norm(rs: Seq[Row]): Seq[Seq[Any]] = rs.map(norm)

  /** Every row the event source's readers deliver for (start, end]. */
  private def readSource(stream: GraftEventMicroBatchStream,
      start: V2Offset, end: V2Offset): Seq[Row] = {
    val rf = stream.createReaderFactory()
    stream.planInputPartitions(start, end).toSeq.flatMap { ip =>
      val r = rf.createReader(ip)
      val out = Seq.newBuilder[Row]
      try while (r.next()) {
        val ir = r.get()
        out += new GenericRowWithSchema(EventSchema.schema.fields.indices.map { i =>
          if (ir.isNullAt(i)) null else ir.get(i, EventSchema.schema(i).dataType) match {
            case s: org.apache.spark.unsafe.types.UTF8String => s.toString
            case v => v
          }
        }.toArray, EventSchema.schema)
      } finally r.close()
      out.result()
    }
  }

  private def bySequence(rs: Seq[Row]): Seq[Row] =
    rs.sortBy(r => (r.getAs[Int]("partition_id"), r.getAs[Long]("partition_sequence")))

  // ---- the reference answers: Spark plans over the watermark-clamped log

  private def refGet(ev: DataFrame, np: Int, id: UUID): Seq[Row] =
    ev.where(col("partition_id") === Ids.partitionIdForEventId(id, np) &&
      col("event_id") === id.toString).limit(1).collect().toSeq

  private def refTransaction(ev: DataFrame, np: Int, id: UUID): Seq[Row] =
    refGet(ev, np, id).headOption.toSeq.flatMap { r =>
      ev.where(col("partition_id") === r.getAs[Int]("partition_id") &&
        col("transaction_id") === r.getAs[String]("transaction_id") &&
        col("partition_sequence") >= r.getAs[Long]("partition_sequence"))
        .orderBy(col("partition_sequence")).collect().toSeq
    }

  private def refPage(q: DataFrame, key: String, count: Int): (Seq[Row], Boolean) = {
    val rows = q.orderBy(col(key)).limit(count + 1).collect().toSeq
    (rows.take(count), rows.size > count)
  }

  private def refScan(ev: DataFrame, np: Int, sid: String, pk: UUID,
      lo: Option[Long], hi: Option[Long], count: Int): (Seq[Row], Boolean) = {
    var q = ev.where(col("partition_id") === Ids.partitionIdFor(Ids.partitionHash(pk), np) &&
      col("stream_id") === sid && col("partition_key") === pk.toString)
    lo.foreach(v => q = q.where(col("stream_version") >= v))
    hi.foreach(v => q = q.where(col("stream_version") <= v))
    refPage(q, "stream_version", count)
  }

  private def refPscan(ev: DataFrame, pid: Int, lo: Option[Long], hi: Option[Long],
      count: Int): (Seq[Row], Boolean) = {
    var q = ev.where(col("partition_id") === pid)
    lo.foreach(v => q = q.where(col("partition_sequence") >= v))
    hi.foreach(v => q = q.where(col("partition_sequence") <= v))
    refPage(q, "partition_sequence", count)
  }

  test("command reads equal the Spark-path answers on random stores") {
    forAllSampled(genStore, runs = 5) { case (np, ops, seed) =>
      val (es, dir) = build(np, ops)
      val rnd = new scala.util.Random(seed)
      val ev = es.events()
      val all = ev.collect().toSeq
      // the orphan is on disk but above the reader's watermark
      val onDisk = spark.read.schema(EventSchema.schema).parquet(s"$dir/events").count()
      assert(onDisk == all.size + 1, "the rolled-back append left its file")

      // EGET + EGET TRANSACTION: every stored id, plus absent ids
      val ids = all.map(r => UUID.fromString(r.getAs[String]("event_id"))) ++
        Seq.fill(3)(Ids.newEventId(rnd.nextInt(1 << 16)))
      ids.foreach { id =>
        assert(norm(es.get(id).toSeq) == norm(refGet(ev, np, id)), s"EGET $id")
      }
      rnd.shuffle(ids).take(8).foreach { id =>
        assert(norm(es.readTransaction(id)) == norm(refTransaction(ev, np, id)),
          s"EGET $id TRANSACTION")
      }

      // ESCAN: every (stream, key) pair, random inclusive ranges/counts
      val pairs = all.map(r => (r.getAs[String]("stream_id"), r.getAs[String]("partition_key")))
        .distinct :+ ("absent" -> Ids.partitionKeyForStream("absent").toString)
      pairs.foreach { case (sid, pk) =>
        Seq.fill(2) {
          (Option.when(rnd.nextBoolean())(rnd.nextInt(4).toLong),
            Option.when(rnd.nextBoolean())(rnd.nextInt(8).toLong), 1 + rnd.nextInt(5))
        }.foreach { case (lo, hi, count) =>
          val got = es.scan(sid, lo, hi, count, Some(UUID.fromString(pk)))
          val (want, more) = refScan(ev, np, sid, UUID.fromString(pk), lo, hi, count)
          assert(norm(got.events) == norm(want) && got.hasMore == more,
            s"ESCAN $sid $pk $lo $hi COUNT $count")
        }
      }

      // EPSCAN: every partition plus an out-of-range id
      (0 to np).foreach { pid =>
        val lo = Option.when(rnd.nextBoolean())(rnd.nextInt(5).toLong)
        val hi = Option.when(rnd.nextBoolean())(rnd.nextInt(12).toLong)
        val count = 1 + rnd.nextInt(8)
        val got = es.pscan(pid, lo, hi, count)
        val (want, more) = refPscan(ev, pid, lo, hi, count)
        assert(norm(got.events) == norm(want) && got.hasMore == more,
          s"EPSCAN $pid $lo $hi COUNT $count")
      }
    }
  }

  test("the event source reads exactly each partition's (start, end] on random stores") {
    forAllSampled(genStore, runs = 5) { case (np, ops, seed) =>
      val (es, dir) = build(np, ops)
      val rnd = new scala.util.Random(seed)
      val all = es.events().collect().toSeq
      val wm = es.manifest.watermarks.filter(_._2 >= 0)
      // one stream per store: its file objects are kept across batches
      val stream = new GraftEventMicroBatchStream(dir, None, None)
      (0 until 6).foreach { _ =>
        // per partition, -1 <= start <= end <= watermark; a start of -1
        // (absent from the offset) reads from the first event
        val range = wm.map { case (pid, w) =>
          val a = rnd.nextLong(w + 2) - 1
          val b = rnd.nextLong(w + 2) - 1
          pid -> (math.min(a, b), math.max(a, b))
        }
        val start = SeqVectorOffset(range.collect { case (p, (lo, _)) if lo >= 0 => p -> lo })
        val end = SeqVectorOffset(range.collect { case (p, (_, hi)) if hi >= 0 => p -> hi })
        val want = all.filter { r =>
          val (lo, hi) = range(r.getAs[Int]("partition_id"))
          val seq = r.getAs[Long]("partition_sequence")
          lo < seq && seq <= hi
        }
        assert(norm(bySequence(readSource(stream, start, end))) == norm(bySequence(want)),
          s"batch ${start.json} -> ${end.json}")
      }
    }
  }

  test("scans that stop early: one-event files, small COUNTs, tied EMAPPEND minimums") {
    forAllSampled(Gen.zip(Gen.oneOf(1, 2), Gen.chooseNum(0L, Long.MaxValue)), runs = 2) {
      case (np, seed) =>
        val rnd = new scala.util.Random(seed)
        val dir = Files.createTempDirectory("graft-diff-cut-").toString
        val es = EventStore.open(spark, dir, np)
        // three streams under one key share a partition; an EMAPPEND of
        // all three writes one file whose minimum ties with the one-event
        // files of whichever stream is furthest behind
        val key = Ids.partitionKeyForStream("cut-a")
        val sids = Seq("cut-a", "cut-b", "cut-c")
        // bulk-ingested files of one stream, each a version range above
        // the last, enter the index in directory order, not range order
        val schema = StructType(Seq(StructField("stream_id", StringType),
          StructField("event_name", StringType), StructField("ord", LongType)))
        (0 until 4).foreach { b =>
          es.ingest(spark.createDataFrame(
            (0 until 3).map(i => Row("cut-a", s"I$b", i.toLong)).asJava, schema), "ord")
        }
        (0 until 48).foreach { i =>
          rnd.nextInt(6) match {
            case 0 => assert(es.mappend(key, sids.map(input(_, i))).isRight)
            case 1 => assert(es.append(input(sids(rnd.nextInt(3)), i)).isRight)
            case _ => assert(es.append(input(sids(rnd.nextInt(3)), i), Some(key)).isRight)
          }
        }
        val ev = es.events()
        ev.collect()
        val pairs = sids.map(_ -> key) ++ sids.map(s => s -> Ids.partitionKeyForStream(s))
        val pages = for {
          (sid, pk) <- pairs
          count <- Seq(1, 2, 3, 5)
          lo <- Seq(None, Some(rnd.nextInt(6).toLong))
        } yield (sid, pk, lo, count)
        val want = pages.map { case (sid, pk, lo, count) => refScan(ev, np, sid, pk, lo, None, count) }
        pages.zip(want).foreach { case ((sid, pk, lo, count), (rows, more)) =>
          val got = es.scan(sid, lo, None, count, Some(pk))
          assert(norm(got.events) == norm(rows) && got.hasMore == more,
            s"ESCAN $sid $pk $lo COUNT $count")
        }
        (0 until np).foreach { pid =>
          Seq(1, 3, 7).foreach { count =>
            val lo = Option.when(rnd.nextBoolean())(rnd.nextInt(10).toLong)
            val got = es.pscan(pid, lo, None, count)
            val (rows, more) = refPscan(ev, pid, lo, None, count)
            assert(norm(got.events) == norm(rows) && got.hasMore == more,
              s"EPSCAN $pid $lo COUNT $count")
          }
        }
        // the cut-off opens no file whose minimum is past the page: with
        // every such file deleted, the first page of each stream under
        // the shared key still reads back, from the files before it
        val firstPages = sids.map(sid => es.scan(sid, None, None, 3, Some(key)))
        assert(firstPages.forall(_.hasMore), "each stream has more than one page")
        val files = Files.walk(Paths.get(dir, "events")).iterator().asScala
          .filter(_.toString.endsWith(".parquet")).toSeq
        val late = files.filter(f => org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            new org.apache.hadoop.conf.Configuration(), new org.apache.hadoop.fs.Path(f.toUri))
          .getBlocks.asScala.forall { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == "stream_version").get
              .getStatistics.genericGetMin.asInstanceOf[java.lang.Long] > 3L
          })
        assert(late.nonEmpty)
        late.foreach(Files.delete)
        sids.zip(firstPages).foreach { case (sid, page) =>
          val again = es.scan(sid, None, None, 3, Some(key))
          assert(norm(again.events) == norm(page.events) && again.hasMore, s"ESCAN $sid COUNT 3")
        }
    }
  }

  test("driver-written files read back field for field through Spark and the event source") {
    val dir = Files.createTempDirectory("graft-diff-rt-").toString
    val es = EventStore.open(spark, dir, 4)
    (0 until 6).foreach(i => assert(es.append(input(s"rt-${i % 2}", i)).isRight))
    assert(es.mappend(Ids.partitionKeyForStream("rt-0"),
      (6 until 9).map(i => input("rt-0", i))).isRight)
    assert(es.appendMany((9 until 13).map(i => input(s"rt-m$i", i))).forall(_.isRight))
    val expected = bySequence(es.events().collect().toSeq)
    assert(expected.size == 13)
    // empty and null metadata both survive the round trip
    val metadata = expected.map(r => Option(r.getAs[Array[Byte]]("metadata")).map(_.length))
    assert(metadata.contains(None) && metadata.contains(Some(0)))

    // the files carry the parquet schema Spark's own writer gives a
    // dataset of Event partitioned by partition_id
    def parquetSchema(root: String) = {
      val f = Files.walk(Paths.get(root)).iterator().asScala
        .find(p => p.toString.endsWith(".parquet") && !p.getFileName.toString.startsWith("."))
        .get.toString
      org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        new org.apache.hadoop.conf.Configuration(), new org.apache.hadoop.fs.Path(f))
        .getFileMetaData.getSchema
    }
    val bySpark = Files.createTempDirectory("graft-diff-spark-").toString + "/events"
    import spark.implicits._
    Seq(Event("e", "t", "k", 0, 0L, 0L, "s", "n", 0L, null, null)).toDS()
      .write.partitionBy("partition_id").parquet(bySpark)
    assert(parquetSchema(s"$dir/events") == parquetSchema(bySpark))

    // Spark without a schema: the footer metadata yields the log's
    // columns and the directory yields partition_id
    val inferred = spark.read.parquet(s"$dir/events")
    assert(inferred.schema.fields.map(f => f.name -> f.dataType).toSet ==
      (EventStore.fileSchema.fields.map(f => f.name -> f.dataType) :+
        ("partition_id" -> IntegerType)).toSet)
    val viaSpark = inferred.select(EventSchema.columnNames.map(col): _*).collect().toSeq
      .sortBy(r => (r.getAs[Int]("partition_id"), r.getAs[Long]("partition_sequence")))
    assert(norm(viaSpark) == norm(expected))

    // the streaming source's reader
    val stream = new GraftEventMicroBatchStream(dir, None, None)
    val end = stream.latestOffset(stream.initialOffset(), ReadLimit.allAvailable())
    assert(norm(bySequence(readSource(stream, stream.initialOffset(), end))) == norm(expected))

    // every append file is a few KB: the bloom filter is sized to its rows
    val files = Files.walk(Paths.get(dir, "events")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    assert(files.nonEmpty && files.forall(Files.size(_) < 16 * 1024),
      files.map(f => f.getFileName -> Files.size(f)).mkString(", "))
  }
}
