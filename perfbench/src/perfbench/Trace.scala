package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A traced interval. `parent` is 0 for a root span; `op` groups the
  * spans of one benchmark operation. Times are on the `System.nanoTime`
  * axis.
  */
final case class Span(id: Long, parent: Long, name: String, op: Long,
    startNs: Long, endNs: Long, attrs: Map[String, String] = Map.empty) {
  def durNs: Long = endNs - startNs
}

/** Per-span execution counters from the Spark listener. */
final class ExecCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Spans recorded around the benchmark's calls into the program, plus
  * Spark jobs and streaming micro-batches as child spans. Building one
  * registers its listeners; untraced runs build none.
  *
  * Job attribution: `span` sets a thread-local Spark property that jobs
  * submitted by the calling thread carry into `onJobStart`. Jobs of a
  * streaming query carry the query id instead.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  private val sc = spark.sparkContext
  /** Execution counters per span id (0 = unattributed) and in total. */
  val bySpan = new java.util.concurrent.ConcurrentHashMap[Long, ExecCounters]()
  val total = new ExecCounters
  /** Micro-batch progress, in arrival order. */
  val batches = new ConcurrentLinkedQueue[Batch]()

  private val jobInfo = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private def counters(span: Long): ExecCounters =
    bySpan.computeIfAbsent(span, _ => new ExecCounters)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      val query = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId"))).getOrElse("")
      jobInfo.put(e.jobId, (e.time, span, query))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobInfo.remove(e.jobId)).foreach { case (t0, span, query) =>
        val c = counters(span)
        c.synchronized { c.jobs += 1 }
        total.synchronized { total.jobs += 1 }
        spans.add(Span(ids.incrementAndGet(), span, "spark.job", 0L,
          msToNs(t0), msToNs(e.time),
          if (query.isEmpty) Map.empty else Map("query" -> query)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val span = Option(stageJob.get(info.stageId))
        .flatMap(j => Option(jobInfo.get(j))).map(_._2).getOrElse(0L)
      Seq(counters(span), total).foreach { c =>
        c.synchronized {
          c.stages += 1
          c.tasks += info.numTasks
          Option(info.taskMetrics).foreach { m =>
            c.cpuNs += m.executorCpuTime
            c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val src = p.sources.headOption
      val b = Batch(p.id.toString, p.batchId, msToNs(startMs),
        phases.getOrElse("triggerExecution", 0L), phases, p.numInputRows,
        src.map(s => SeqOffsets.parse(s.startOffset)).getOrElse(Map.empty),
        src.map(s => SeqOffsets.parse(s.endOffset)).getOrElse(Map.empty))
      batches.add(b)
      spans.add(Span(ids.incrementAndGet(), 0L, "stream.batch", 0L,
        b.startNs, b.startNs + b.durMs * 1000000L,
        Map("query" -> b.query, "batch" -> b.batchId.toString)))
    }
  }

  sc.addSparkListener(jobListener)
  spark.streams.addListener(streamListener)

  /** Runs `body` as a span named `name` of operation `op`. */
  def span[T](name: String, op: Long = 0L)(body: => T): T = {
    val id = ids.incrementAndGet()
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(SpanProp, prev)
      spans.add(Span(id, Option(prev).map(_.toLong).getOrElse(0L), name, op, t0, t1))
    }
  }

  /** Waits until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc, 30000L)

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  def spanSeq: Seq[Span] = spans.asScala.toSeq

  /** Self time of every span named `name`: duration minus the union of
    * its children, keyed by span.
    */
  def selfTimes(name: String): Seq[(Span, Long)] = {
    val all = spanSeq
    val kids = all.groupBy(_.parent)
    all.filter(_.name == name).map { s =>
      s -> Stats.selfTime(s.startNs, s.endNs,
        kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
    }
  }

  /** All spans as JSON lines. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spanSeq.sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "op" -> s.op, "start_ns" -> (s.startNs - anchorNs),
        "end_ns" -> (s.endNs - anchorNs)) ++ s.attrs.toSeq)
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** One streaming micro-batch as its progress event reports it. */
final case class Batch(query: String, batchId: Long, startNs: Long, durMs: Long,
    phases: Map[String, Long], rows: Long,
    startOffset: Map[Int, Long], endOffset: Map[Int, Long])

/** The event source's offset JSON, `{"pid":seq,...}`. */
object SeqOffsets {
  def parse(json: String): Map[Int, Long] =
    Option(json).map(_.trim.stripPrefix("{").stripSuffix("}").trim)
      .filter(_.nonEmpty)
      .map(_.split(",").map { kv =>
        val Array(k, v) = kv.split(":")
        k.trim.stripPrefix("\"").stripSuffix("\"").toInt -> v.trim.toLong
      }.toMap)
      .getOrElse(Map.empty)
}

/** Process-wide JVM readings. */
object Jvm {
  import java.lang.management.ManagementFactory

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _                                            => 0L
  }

  /** Heap still in use after a full collection: the live set the
    * process holds, independent of when collections happen to run.
    */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
