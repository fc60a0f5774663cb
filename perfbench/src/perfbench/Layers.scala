package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.api.EventStore
import graft.storage.Manifest

/** The per-layer metrics a traced run prints, named after the module
  * they measure. README.md maps each to the end-to-end metric and the
  * workload it should move.
  */
object PerLayer {
  val OpClasses: Seq[String] = Seq("eappend", "emappend", "eget", "escan", "esver", "epseq")
  val StreamPhases: Seq[String] =
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
  val DedupStages: Seq[String] = Seq("shingles", "signatures", "candidates", "jaccard", "components")

  val all: Seq[(String, String)] =
    Seq("server.codec_us" -> "us") ++
      Seq("write", "eget", "escan").map(c => s"server.rtt_minus_service_ms.$c" -> "ms") ++
      Seq("server.bytes_per_op" -> "B") ++
      OpClasses.flatMap(c => Seq(
        s"api.service_ms.$c" -> "ms", s"api.spark_jobs_per_op.$c" -> "count",
        s"api.exec_cpu_ms_per_op.$c" -> "ms", s"api.driver_self_ms.$c" -> "ms")) ++
      Seq("api.read_cache_hit_ratio" -> "ratio", "api.read_cache_evictions" -> "count",
        "api.version_conflicts" -> "count", "api.ingest_s" -> "s", "api.compact_s" -> "s") ++
      Seq("storage.manifest_bytes" -> "B", "storage.manifest_commits" -> "count",
        "storage.manifest_bytes_per_event" -> "B", "storage.manifest_render_ms" -> "ms",
        "storage.manifest_parse_ms" -> "ms", "storage.manifest_loads" -> "count",
        "storage.inline_heads" -> "count", "storage.data_files" -> "count",
        "storage.disk_bytes.events" -> "B", "storage.disk_bytes.manifest" -> "B") ++
      Seq("streaming.batches" -> "count", "streaming.batch_ms_p50" -> "ms",
        "streaming.batch_ms_tail" -> "ms") ++
      StreamPhases.map(p => s"streaming.phase_ms.$p" -> "ms") ++
      Seq("streaming.source_rows" -> "count", "streaming.delivered_per_source_row" -> "ratio",
        "streaming.pickup_wait_ms" -> "ms", "streaming.backlog_end" -> "count") ++
      Seq("ops.dedup_s" -> "s") ++ DedupStages.map(s => s"ops.stage_s.$s" -> "s") ++
      Seq("ops.candidate_pairs" -> "count", "ops.pair_precision" -> "ratio",
        "ops.cc_rounds" -> "count", "ops.dedup_recall" -> "ratio") ++
      Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.exec_cpu_s" -> "s", "spark.shuffle_read_mb" -> "MB",
        "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
        "jvm.gc_ms" -> "ms", "jvm.process_cpu_s" -> "s", "jvm.heap_live_mb" -> "MB") ++
      Seq("workload.write_p50_ms" -> "ms", "workload.read_p50_ms" -> "ms",
        "workload.eget_p50_ms" -> "ms", "workload.escan_p50_ms" -> "ms",
        "workload.delivery_p50_ms" -> "ms", "workload.catchup_s" -> "s",
        "workload.ingest_events_per_s" -> "1/s", "workload.batch_s" -> "s") ++
      Main.EndToEnd.map { case (m, _) => s"trace.overhead.$m" -> "ratio" }
}

/** Readings of the storage layer, taken from outside the store. */
object StorageProbe {

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def filesUnder(p: Path, suffix: String): Int =
    if (!Files.exists(p)) 0
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(f => f.toString.endsWith(suffix))
      finally s.close()
    }

  /** Mean size of the retained manifest versions. */
  def meanManifestBytes(root: String): Double = {
    val dir = Manifest.dirFor(root)
    val ls = Files.list(dir)
    val sizes = try ls.iterator().asScala
      .filter(_.getFileName.toString.matches("v\\d+\\.json")).map(Files.size).toSeq
    finally ls.close()
    if (sizes.isEmpty) 0.0 else sizes.sum.toDouble / sizes.length
  }

  private def medianMs(reps: Int)(f: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    })

  /** End-state readings of one store.
    *
    * @param commits        manifest commits during the measured phase
    * @param loads          `Manifest.loads` delta during the phase
    * @param eventsAppended events appended during the phase
    */
  def readings(es: EventStore, commits: Long, loads: Long, eventsAppended: Long): Map[String, Double] = {
    val root = Paths.get(es.root)
    val st = es.manifest
    val rendered = Manifest.render(st)
    Map(
      "storage.manifest_bytes" -> rendered.length.toDouble,
      "storage.manifest_commits" -> commits.toDouble,
      "storage.manifest_bytes_per_event" ->
        (if (eventsAppended == 0) 0.0 else meanManifestBytes(es.root) * commits / eventsAppended),
      "storage.manifest_render_ms" -> medianMs(5)(Manifest.render(st)),
      "storage.manifest_parse_ms" -> medianMs(5)(Manifest.parse(rendered)),
      "storage.manifest_loads" -> loads.toDouble,
      "storage.inline_heads" -> st.streamHeads.size.toDouble,
      "storage.data_files" -> filesUnder(root.resolve("events"), ".parquet").toDouble,
      "storage.disk_bytes.events" -> bytesUnder(root.resolve("events")).toDouble,
      "storage.disk_bytes.manifest" -> bytesUnder(root.resolve("_manifest")).toDouble)
  }
}

/** Execution counters over an interval: Spark totals from the tracer's
  * listener plus the JVM's own GC and CPU clocks.
  */
final class ExecWindow(tracer: Tracer) {
  private def snap = {
    val t = tracer.total
    t.synchronized(Array(t.jobs, t.stages, t.tasks, t.cpuNs, t.shuffleReadBytes,
      t.shuffleWriteBytes, t.spillBytes))
  }
  tracer.drain()
  private val s0 = snap
  private val gc0 = Jvm.gcMs
  private val cpu0 = Jvm.processCpuNs

  def close(): Map[String, Double] = {
    tracer.drain()
    val d = snap.zip(s0).map { case (a, b) => (a - b).toDouble }
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> d(0), "spark.stages" -> d(1), "spark.tasks" -> d(2),
      "spark.exec_cpu_s" -> d(3) / 1e9,
      "spark.shuffle_read_mb" -> d(4) / mb, "spark.shuffle_write_mb" -> d(5) / mb,
      "spark.spill_mb" -> d(6) / mb,
      "jvm.gc_ms" -> (Jvm.gcMs - gc0).toDouble,
      "jvm.process_cpu_s" -> (Jvm.processCpuNs - cpu0) / 1e9)
  }
}

/** Timing of the server's own RESP codec on the frames a run recorded:
  * decode each request and reply, and encode it back.
  */
object CodecProbe {
  import graft.server.Resp

  def microsPerFrame(frames: Seq[Array[Byte]]): Double =
    if (frames.isEmpty) 0.0
    else {
      def pass(): Double = {
        val sink = new java.io.ByteArrayOutputStream(1 << 16)
        val t0 = System.nanoTime()
        frames.foreach { b =>
          val f = Resp.decode(new java.io.ByteArrayInputStream(b))
          sink.reset()
          Resp.encode(f, sink)
        }
        (System.nanoTime() - t0) / 1e3 / frames.length
      }
      pass() // warm-up
      Stats.median((1 to 5).map(_ => pass()))
    }
}
