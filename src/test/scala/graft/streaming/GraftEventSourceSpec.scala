package graft.streaming

import java.nio.file.Files

import graft.api.EventStore
import graft.core.EventInput
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.streaming.{Offset => V2Offset, ReadLimit}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** White-box coverage of the DSv2 sequence-offset stream: canonical
  * offset JSON, event-budget admission control with rotation, and
  * (start, end] partition planning + parquet reading — the mechanics
  * the engine-level SubscriptionsSpec exercises only indirectly.
  */
class GraftEventSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Read every planned (start, end] partition through the reader
    * factory and return the delivered (pid, seq) pairs.
    */
  private def readRange(
      stream: GraftEventMicroBatchStream,
      start: V2Offset, end: V2Offset): Seq[(Int, Long)] = {
    val rf = stream.createReaderFactory()
    stream.planInputPartitions(start, end).toSeq.flatMap { ip =>
      val r = rf.createReader(ip)
      val out = Seq.newBuilder[(Int, Long)]
      try while (r.next()) {
        val row = r.get()
        out += ((row.getInt(3), row.getLong(4))) // partition_id, partition_sequence
      } finally r.close()
      out.result()
    }
  }

  test("offset json is canonical and round-trips") {
    val o = SeqVectorOffset(Map(7 -> 59L, 0 -> 3L, 12 -> 0L))
    assert(o.json == """{"0":3,"7":59,"12":0}""")
    assert(SeqVectorOffset.parse(o.json) == o)
    assert(SeqVectorOffset.parse("{}") == SeqVectorOffset.empty)
  }

  test("budget caps each offer in events; offers converge to the watermarks") {
    val dir = Files.createTempDirectory("graft-src-").toString
    val es = EventStore.open(spark, dir, 4)
    // two streams in (very likely) different partitions, 5 events each
    (1 to 5).foreach(_ => es.append(EventInput("src-a", "E")))
    (1 to 5).foreach(_ => es.append(EventInput("src-b", "E")))
    val wm = es.manifest.watermarks.filter(_._2 >= 0)
    val totalEvents = wm.values.map(_ + 1).sum

    val stream = new GraftEventMicroBatchStream(dir, Some(3L), None)
    var last: V2Offset = stream.initialOffset()
    var offers = 0
    var progressed = true
    while (progressed && offers < 20) {
      val next = stream.latestOffset(last, ReadLimit.maxRows(3))
      progressed = SeqVectorOffset.of(next) != SeqVectorOffset.of(last)
      if (progressed) {
        // each offer advances at most 3 events past the previous one
        val prevTotal = SeqVectorOffset.of(last).seqs.values.map(_ + 1).sum
        val nextTotal = SeqVectorOffset.of(next).seqs.values.map(_ + 1).sum
        assert(nextTotal - prevTotal <= 3L)
        // the planned+read batch delivers exactly the advance, each row
        // inside its partition's (start, end] range
        val rows = readRange(stream, last, next)
        assert(rows.size.toLong == nextTotal - prevTotal)
        val lastSeqs = SeqVectorOffset.of(last).seqs
        val nextSeqs = SeqVectorOffset.of(next).seqs
        rows.foreach { case (pid, seq) =>
          assert(seq > lastSeqs.getOrElse(pid, -1L) && seq <= nextSeqs(pid))
        }
        last = next
      }
      offers += 1
    }
    // converged to exactly the committed watermarks, nothing dropped
    assert(SeqVectorOffset.of(last).seqs == wm)
    assert(SeqVectorOffset.of(last).seqs.values.map(_ + 1).sum == totalEvents)
    // the full range replays every event exactly once, with the full
    // envelope materialized (strings + binary payloads decode)
    val all = readRange(stream, stream.initialOffset(), last)
    assert(all.size.toLong == totalEvents)
    assert(all.distinct.size == all.size)
  }

  test("subscribed-pid restriction prunes offsets and planned files") {
    val dir = Files.createTempDirectory("graft-src-pids-").toString
    val es = EventStore.open(spark, dir, 4)
    (1 to 4).foreach(_ => es.append(EventInput("pids-a", "E")))
    (1 to 4).foreach(_ => es.append(EventInput("pids-b", "E")))
    val wm = es.manifest.watermarks.filter(_._2 >= 0)
    assert(wm.size >= 1)
    val keep = wm.keys.min

    val stream = new GraftEventMicroBatchStream(dir, None, Some(Set(keep)))
    val end = stream.latestOffset(stream.initialOffset(), ReadLimit.allAvailable())
    assert(SeqVectorOffset.of(end).seqs.keySet == Set(keep))
    val rows = readRange(stream, stream.initialOffset(), end)
    assert(rows.size.toLong == wm(keep) + 1)
    assert(rows.forall(_._1 == keep))
  }

  /** 15 one-event files in partition 0 of a one-partition store, then
    * the 16th append, whose file fills the run; returns once the merged
    * file has replaced the run (the run's files are those `before` sees)
    */
  private def fillRun(es: EventStore, before: () => Unit): Unit = {
    (0 until 15).foreach(_ => es.append(EventInput("roll", "E")))
    before()
    es.append(EventInput("roll", "E"))
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (es.storeInfo("rollovers") != 1L && System.nanoTime() < deadline) Thread.sleep(5)
    assert(es.storeInfo("rollovers") == 1L && es.storeInfo("data_files") == 1L)
  }

  private def dataFiles(dir: java.nio.file.Path) =
    graft.core.Fs.list(dir).filter(_.getFileName.toString.endsWith(".parquet"))

  test("a planned file that a rollover deleted before its task ran still yields exactly (lo, hi]") {
    val dir = Files.createTempDirectory("graft-src-roll-").toString
    val es = EventStore.open(spark, dir, 1)
    val stream = new GraftEventMicroBatchStream(dir, None, None)
    var planned: GraftFilePartition = null
    var reader: org.apache.spark.sql.connector.read.PartitionReader[
      org.apache.spark.sql.catalyst.InternalRow] = null
    val got = Seq.newBuilder[Long]
    // the task hands on its first event, then the run it planned over
    // is merged away under it
    fillRun(es, before = { () =>
      val Array(ip) = stream.planInputPartitions(
        SeqVectorOffset(Map(0 -> 2L)), SeqVectorOffset(Map(0 -> 14L)))
      planned = ip.asInstanceOf[GraftFilePartition]
      reader = stream.createReaderFactory().createReader(ip)
      assert(reader.next())
      got += reader.get().getLong(4)
    })
    assert(planned.files.size == 12)
    assert(planned.files.forall(f => !Files.exists(java.nio.file.Paths.get(f.path))))
    while (reader.next()) got += reader.get().getLong(4)
    assert(got.result() == (3L to 14L))
  }

  test("a listing that holds a merged file and its inputs delivers each event once") {
    val dir = Files.createTempDirectory("graft-src-both-").toString
    val es = EventStore.open(spark, dir, 1)
    val pdir = java.nio.file.Paths.get(dir, "events", "partition_id=0")
    val side = Files.createTempDirectory("graft-src-inputs-")
    // keep copies of 15 of the run's inputs, then put them back next to
    // the merged file: the state a listing sees mid-swap or after a crash
    fillRun(es, before = () => dataFiles(pdir).foreach(f => Files.copy(f, side.resolve(f.getFileName))))
    dataFiles(side).foreach(f => Files.copy(f, pdir.resolve(f.getFileName)))
    assert(dataFiles(pdir).size == 16)

    val stream = new GraftEventMicroBatchStream(dir, None, None)
    val end = stream.latestOffset(stream.initialOffset(), ReadLimit.allAvailable())
    assert(readRange(stream, stream.initialOffset(), end) == (0L to 15L).map(0 -> _))
    assert(readRange(stream, SeqVectorOffset(Map(0 -> 6L)), end) == (7L to 15L).map(0 -> _))
  }

  test("a drain that outlives its bound stops the query and names the leg") {
    import scala.concurrent.duration._
    val dir = Files.createTempDirectory("graft-drain-")
    try {
      val in = Files.createDirectories(dir.resolve("in"))
      Files.write(in.resolve("a.txt"), "row\n".getBytes("UTF-8"))
      // a batch that stalls: processAllAvailable alone would never return
      val q = spark.readStream.text(in.toString).writeStream
        .option("checkpointLocation", dir.resolve("ck").toString)
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          Thread.sleep(10.minutes.toMillis)
        }
        .start()
      val t0 = System.nanoTime()
      val e = intercept[DrainTimeoutException](
        Drain.processAllAvailable(q, "stalled-leg", 2.seconds))
      assert(e.leg == "stalled-leg" && e.getMessage.startsWith("stalled-leg:"))
      assert(!q.isActive, "the timed-out query is stopped")
      assert((System.nanoTime() - t0) / 1e9 < 60)
    } finally graft.core.Fs.deleteRecursively(dir.toFile)
  }
}
