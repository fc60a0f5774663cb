package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

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
class GraftEventSourceSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

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
    val dir = tempDir("graft-src-").toString
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
    val dir = tempDir("graft-src-pids-").toString
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

  /** A 32-partition store of 320 events written by `ingest` alone. */
  private def ingestedStore(prefix: String): EventStore = {
    import org.apache.spark.sql.functions._
    val es = EventStore.open(spark, tempDir(prefix).toString, 32)
    es.ingest(spark.range(0, 320).select(
      concat(lit("s-"), col("id") % 40).as("stream_id"),
      lit("E").as("event_name"),
      col("id").as("timestamp_ms"),
      col("id").as("arrival")), "arrival")
    es
  }

  /** The (partition_id, partition_sequence) rows of each non-empty
    * micro-batch of the gated ingest legs' feed over `es`, run to
    * completion; `afterBatch` runs in the sink after each batch.
    */
  private def ingestFeedBatches(es: EventStore, afterBatch: Long => Unit = _ => ())
      : Seq[Seq[(Int, Long)]] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(Int, Long)]]()
    val ck = tempDir("graft-src-feed-ck-")
    val q = graft.SparkEntry.ingestFeed(es).writeStream
      .option("checkpointLocation", ck.toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = b.select("partition_id", "partition_sequence").collect()
          .map(r => (r.getInt(0), r.getLong(1))).toSeq
        if (rows.nonEmpty) got.add(rows)
        afterBatch(id)
      }
      .start()
    try Drain.processAllAvailable(q, "ingestFeedBatches") finally q.stop()
    got.asScala.toSeq
  }

  private def committed(es: EventStore): Set[(Int, Long)] =
    es.manifest.watermarks.toSeq.flatMap { case (p, w) => (0L to w).map(p -> _) }.toSet

  test("the ingest legs' third-of-backlog bound gives three batches, each event once") {
    val es = ingestedStore("graft-src-third-")
    assert(GraftEventSource.backlog(es) == 320L)
    val batches = ingestFeedBatches(es)
    assert(batches.size == 3)
    val all = batches.flatten
    assert(all.size == 320 && all.toSet == committed(es))
  }

  test("a compact() between the first and second batch re-delivers nothing") {
    val es = ingestedStore("graft-src-compact-")
    def files() = {
      val w = Files.walk(java.nio.file.Paths.get(es.root, "events"))
      try w.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSet finally w.close()
    }
    val before = files()
    val batches = ingestFeedBatches(es, afterBatch = id => if (id == 0L) es.compact())
    // every file the first batch read was replaced by a compacted one
    assert(before.nonEmpty && (files() intersect before).isEmpty)
    assert(batches.size == 3)
    val all = batches.flatten
    assert(all.size == 320 && all.toSet == committed(es))
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

  private def exists(f: graft.storage.HeadProbe.File) = Files.exists(java.nio.file.Paths.get(f.path))

  test("a batch planned before a swap reads (lo, hi]; its files stay until the next latestOffset") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val dir = tempDir("graft-src-roll-").toString
    val es = EventStore.open(spark, dir, 1)
    val stream = new GraftEventMicroBatchStream(dir, None, None)
    var end: V2Offset = null
    var planned: GraftFilePartition = null
    var reader: org.apache.spark.sql.connector.read.PartitionReader[
      org.apache.spark.sql.catalyst.InternalRow] = null
    val got = Seq.newBuilder[Long]
    // the task hands on its first event, then the run it planned over
    // is merged and swapped out under it
    fillRun(es, before = { () =>
      end = stream.latestOffset(stream.initialOffset(), ReadLimit.allAvailable())
      assert(SeqVectorOffset.of(end).seqs == Map(0 -> 14L))
      val Array(ip) = stream.planInputPartitions(SeqVectorOffset(Map(0 -> 2L)), end)
      planned = ip.asInstanceOf[GraftFilePartition]
      reader = stream.createReaderFactory().createReader(ip)
      assert(reader.next())
      got += reader.get().getLong(4)
    })
    assert(planned.files.size == 12 && planned.files.forall(exists))
    // the source's pin names the 15 files it planned from; the 16th,
    // appended after it, is deleted at once
    eventually(timeout(30.seconds)) { assert(es.storeInfo("retired_files") == 15L) }
    while (reader.next()) got += reader.get().getLong(4)
    assert(got.result() == (3L to 14L))

    val next = stream.latestOffset(end, ReadLimit.allAvailable())
    assert(es.storeInfo("retired_files") == 0L && !planned.files.exists(exists))
    assert(readRange(stream, end, next) == Seq(0 -> 15L))
    stream.stop()
    assert(es.storeInfo("pinned_snapshots") == 0L)
  }

  test("a source with no open store at its root fails with the typed error") {
    val dir = tempDir("graft-src-closed-").toString
    val stream = new GraftEventMicroBatchStream(dir, None, None)
    val e = intercept[StoreNotOpenException](
      stream.latestOffset(stream.initialOffset(), ReadLimit.allAvailable()))
    assert(e.root == dir && e.getMessage.contains(dir))
  }

  test("a listing that holds a merged file and its inputs delivers each event once") {
    val dir = tempDir("graft-src-both-").toString
    val es = EventStore.open(spark, dir, 1)
    val pdir = java.nio.file.Paths.get(dir, "events", "partition_id=0")
    val side = tempDir("graft-src-inputs-")
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
    val dir = tempDir("graft-drain-")
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
