package graft.api

import java.nio.file.Files

import graft.core._
import graft.storage.HeadProbe
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Head-state LSM behavior: the inline overlay spills to parquet deltas
  * past maxInlineHeads, deltas fold into a base, and every lookup /
  * append-validation / ingest path stays correct across spills, folds,
  * and reopens — the driver never holds more than the bounded overlay.
  */
class HeadStateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import org.apache.spark.sql.functions._

  private def in(sid: String, ev: ExpectedVersion = ExpectedVersion.Any): EventInput =
    EventInput(sid, "E", "p".getBytes, Array.emptyByteArray, ev)

  test("appends spill past maxInlineHeads; lookups and validation stay correct") {
    val dir = Files.createTempDirectory("graft-heads-").toString
    val es = EventStore.open(spark, dir, 4, maxInlineHeads = 4)
    (0 until 10).foreach(i => assert(es.append(in(s"h-$i")).isRight))

    // overlay bounded, spilled layers referenced
    assert(es.manifest.streamHeads.size <= 4)
    assert(es.manifest.headsDeltas.nonEmpty || es.manifest.headsBase > 0)
    // the stream_id bloom filter is sized to the layer, not parquet's
    // 1 MB default
    val layerFiles = Files.walk(java.nio.file.Paths.get(dir, "_heads")).iterator()
    while (layerFiles.hasNext) {
      val f = layerFiles.next()
      if (f.toString.endsWith(".parquet")) assert(Files.size(f) < 16 * 1024, f.toString)
    }

    // every stream's head resolves through the layers
    (0 until 10).foreach(i => assert(es.sver(s"h-$i") == Some(0L)))
    assert(es.sver("missing").isEmpty)

    // optimistic-concurrency validation reads spilled heads too
    assert(es.append(in("h-0", ExpectedVersion.Exact(5))).isLeft)
    assert(es.append(in("h-0", ExpectedVersion.Exact(0))).isRight)
    assert(es.sver("h-0") == Some(1L))
    assert(es.streamCount == 10L)
  }

  test("layered point lookups launch NO Spark job (driver-side footer probe)") {
    val dir = Files.createTempDirectory("graft-heads-").toString
    val es = EventStore.open(spark, dir, 4, maxInlineHeads = 4)
    (0 until 32).foreach(i => assert(es.append(in(s"jp-$i")).isRight))
    assert(es.manifest.headsDeltas.nonEmpty || es.manifest.headsBase > 0)
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    (0 until 32).foreach(i => assert(es.sver(s"jp-$i") == Some(0L)))
    assert(es.sver("jp-missing").isEmpty)
    // the status tracker is listener-fed (async) — give it a moment to
    // drain before asserting NOTHING was scheduled
    Thread.sleep(1000)
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, s"point lookups launched ${after - before} Spark job(s)")
  }

  test("HeadProbe prunes by row-group stats and finds exact entries") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-probe-").toString + "/layer"
    val rows = (0 until 1000).map(i => (f"s-$i%04d", s"pk-$i", i % 7, i.toLong))
    rows.toDF("stream_id", "partition_key", "partition_id", "version")
      .repartitionByRange(4, col("stream_id"))
      .sortWithinPartitions("stream_id")
      .write.option("parquet.bloom.filter.enabled#stream_id", "true")
      .parquet(dir)
    def probe(layer: String, sid: String, pk: String) =
      HeadProbe.probeStream(HeadProbe.listFiles(layer), sid).collect {
        case (`pk`, pid, ver) => (pid, ver)
      }
    assert(probe(dir, "s-0042", "pk-42") == Seq((42 % 7, 42L)))
    assert(probe(dir, "s-0999", "pk-999") == Seq((999 % 7, 999L)))
    // absent stream, and present stream with the WRONG partition key
    assert(probe(dir, "s-9999", "pk-x").isEmpty)
    assert(probe(dir, "s-0042", "pk-43").isEmpty)
    // nonexistent layer dir is a miss, not a crash
    assert(probe(dir + "-nope", "s", "p").isEmpty)
  }

  test("HeadProbe.probeStream returns every partition key's entry for a stream") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-probe-s-").toString + "/layer"
    val rows = (0 until 500).map(i => (f"t-$i%04d", s"pk-$i", i % 5, i.toLong)) ++
      Seq(("t-dup", "pk-a", 1, 5L), ("t-dup", "pk-b", 2, 7L))
    rows.toDF("stream_id", "partition_key", "partition_id", "version")
      .repartitionByRange(3, col("stream_id"))
      .sortWithinPartitions("stream_id", "partition_key")
      .write.option("parquet.bloom.filter.enabled#stream_id", "true")
      .parquet(dir)
    val files = HeadProbe.listFiles(dir)
    assert(HeadProbe.probeStream(files, "t-dup").toSet ==
      Set(("pk-a", 1, 5L), ("pk-b", 2, 7L)))
    assert(HeadProbe.probeStream(files, "t-0123") ==
      Seq(("pk-123", 123 % 5, 123L)))
    assert(HeadProbe.probeStream(files, "t-none").isEmpty)
  }

  test("state persists across reopen; orphan layers are cleaned") {
    val dir = Files.createTempDirectory("graft-heads-").toString
    val es = EventStore.open(spark, dir, 4, maxInlineHeads = 2)
    (0 until 6).foreach(i => es.append(in(s"p-$i")))
    // fabricate an orphan layer (crash between layer write and commit)
    val orphan = java.nio.file.Paths.get(dir, "_heads", "delta-v999")
    java.nio.file.Files.createDirectories(orphan)

    val es2 = EventStore.open(spark, dir, 4, maxInlineHeads = 2)
    (0 until 6).foreach(i => assert(es2.sver(s"p-$i") == Some(0L)))
    assert(!java.nio.file.Files.exists(orphan))
  }

  test("bulk ingest spills straight from executors and versions continue") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-heads-").toString
    val es = EventStore.open(spark, dir, 4, maxInlineHeads = 4)
    val batch = (0 until 40)
      .map(i => (s"b-${i % 20}", "E", i.toLong))
      .toDF("stream_id", "event_name", "arrival")
    assert(es.ingest(batch, "arrival") == 40L)

    // 20 distinct streams > maxInlineHeads → spilled, overlay empty
    assert(es.manifest.streamHeads.isEmpty)
    assert(es.manifest.headsDeltas.nonEmpty)
    (0 until 20).foreach(i => assert(es.sver(s"b-$i") == Some(1L)))

    // second ingest must continue versions from the PARQUET heads (the
    // distributed join path, no driver materialization)
    assert(es.ingest(batch, "arrival") == 40L)
    (0 until 20).foreach(i => assert(es.sver(s"b-$i") == Some(3L)))
    assert(es.streamCount == 20L)

    // events themselves carry gapless versions per stream
    val maxVers = es.events().groupBy($"stream_id")
      .agg(max($"stream_version").as("v"), count(lit(1)).as("n")).collect()
    assert(maxVers.forall(r => r.getAs[Long]("v") == 3L && r.getAs[Long]("n") == 4L))
  }

  test("concurrent readers race spills and folds without stale or crashed lookups") {
    val dir = Files.createTempDirectory("graft-heads-race-").toString
    val es = EventStore.open(spark, dir, 4, maxInlineHeads = 2)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    // readers hammer lookups (cache + layer paths) while the writer
    // spills every ~2 appends and folds past 8 deltas
    val readers = (0 until 3).map { idx =>
      val t = new Thread(() => {
        val rnd = new scala.util.Random(7 + idx)
        while (!stop.get()) {
          val i = rnd.nextInt(30)
          try {
            es.sver(s"race-$i").foreach { v =>
              if (v != 0L) failures.add(s"race-$i head $v != 0")
            }
          } catch {
            case e: Exception => failures.add(s"lookup threw: $e")
          }
        }
      })
      t.setDaemon(true); t.start(); t
    }
    (0 until 30).foreach { i =>
      assert(es.append(in(s"race-$i")).isRight)
      if (i % 10 == 9) es.compact()
    }
    stop.set(true)
    readers.foreach(_.join(5000))
    assert(failures.isEmpty, failures.toString)

    // post-race: every head resolves correctly; optimistic concurrency
    // still reads the true heads through whatever layers exist
    (0 until 30).foreach(i => assert(es.sver(s"race-$i") == Some(0L)))
    assert(es.append(in("race-0", ExpectedVersion.Exact(5))).isLeft)
    assert(es.append(in("race-0", ExpectedVersion.Exact(0))).isRight)
  }

  test("deltas fold into a base past the threshold and after compact()") {
    val dir = Files.createTempDirectory("graft-heads-").toString
    val es = EventStore.open(spark, dir, 4, maxInlineHeads = 1)
    // every second append spills; > 8 deltas triggers a fold
    (0 until 22).foreach(i => es.append(in(s"f-$i")))
    assert(es.manifest.headsBase > 0)
    assert(es.manifest.headsDeltas.size <= 8)
    (0 until 22).foreach(i => assert(es.sver(s"f-$i") == Some(0L)))

    es.compact()
    assert(es.manifest.headsDeltas.isEmpty)
    assert(es.manifest.streamHeads.isEmpty)
    (0 until 22).foreach(i => assert(es.sver(s"f-$i") == Some(0L)))

    // reopen drops the folded-away layer dirs; state intact
    val es2 = EventStore.open(spark, dir, 4, maxInlineHeads = 1)
    (0 until 22).foreach(i => assert(es2.sver(s"f-$i") == Some(0L)))
    assert(es2.streamCount == 22L)
  }
}
