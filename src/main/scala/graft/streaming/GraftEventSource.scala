package graft.streaming

import java.util.{Map => JMap, Set => JSet}

import graft.api.EventStore
import graft.core.EventSchema
import graft.storage.HeadProbe
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset => V2Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The one way to stream a store's log (batch reads go through
  * [[EventStore.events]]). No reader lists `events/`: the source plans
  * from the snapshots of the store's open handle.
  */
object GraftEventSource {

  /** `es`'s log as a streaming DataFrame ([[EventSchema.schema]]): each
    * committed event once, in sequence order per partition, however
    * its files are merged or compacted. `maxEventsPerTrigger` bounds a
    * micro-batch in events (none: a trigger reads everything
    * committed); `pids` restricts the stream to those partitions.
    */
  def log(es: EventStore, maxEventsPerTrigger: Option[Long] = None,
      pids: Option[Seq[Int]] = None): DataFrame = {
    val rs = es.spark.readStream
      .format(classOf[GraftEventSourceProvider].getName)
      .option("root", es.root)
    val bounded = maxEventsPerTrigger.fold(rs)(n => rs.option("maxEventsPerTrigger", n))
    pids.fold(bounded)(ps => bounded.option("pids", ps.mkString(","))).load()
  }

  /** The events committed to `es`: Σ(watermark + 1) over its partitions. */
  def backlog(es: EventStore): Long =
    es.manifest.watermarks.values.map(_ + 1).sum
}

/** Offset of a graft event-log stream: the highest delivered
  * `partition_sequence` per partition id — the same per-partition
  * cursor vector the reference keeps per subscription
  * (`crates/sierradb-cluster/src/subscription.rs:441-461`). Offsets are
  * SEQUENCES, not file paths, so subscription checkpoints survive
  * `compact()` (which rewrites files but never renumbers sequences).
  *
  * JSON is canonical (pids ascending) because Structured Streaming
  * compares offsets by their JSON.
  */
final case class SeqVectorOffset(seqs: Map[Int, Long]) extends V2Offset {
  override val json: String =
    seqs.toSeq.sorted.map { case (p, s) => s""""$p":$s""" }.mkString("{", ",", "}")
}

object SeqVectorOffset {
  val empty: SeqVectorOffset = SeqVectorOffset(Map.empty)

  /** Parse exactly what `json` emits: `{"pid":seq,...}`. */
  def parse(json: String): SeqVectorOffset = {
    val body = json.trim.stripPrefix("{").stripSuffix("}").trim
    if (body.isEmpty) empty
    else SeqVectorOffset(body.split(",").map { kv =>
      val Array(k, v) = kv.split(":")
      k.trim.stripPrefix("\"").stripSuffix("\"").toInt -> v.trim.toLong
    }.toMap)
  }

  def of(o: V2Offset): SeqVectorOffset = o match {
    case s: SeqVectorOffset => s
    // engine-side wrappers (e.g. restored checkpoint offsets)
    // round-trip through the canonical json
    case other => parse(other.json)
  }
}

/** DataSource v2 micro-batch source over a graft event store with
  * per-partition SEQUENCE offsets (SURVEY.md §3.3; the reference's
  * history→live seam, `subscription.rs:402-439`).
  *
  * Why not Spark's file source: that tracks processed FILES by path, so
  * compaction or a rollover (new paths, same rows) redelivers history,
  * and rate limiting is files-per-trigger. Here:
  *
  *   - `latestOffset` offers only manifest-COMMITTED watermarks — an
  *     event above the watermark (data file written, commit pending) is
  *     never delivered, so a crash in that window cannot cause phantom
  *     delivery of rows that `recoverOrphans()` later deletes.
  *   - WINDOW rate limiting is the engine-standard admission-control
  *     contract: `maxEventsPerTrigger` becomes `ReadLimit.maxRows`,
  *     capping each micro-batch in EVENTS — the reference's WINDOW
  *     (max unacked in flight) exactly, including during catch-up.
  *   - offsets are sequence vectors: `compact()` between (or during)
  *     runs is invisible to checkpoints; a restarted query re-plans the
  *     same (start, end] range over whatever files now hold it.
  *   - the cursor is the engine's: `latestOffset(start, limit)`
  *     receives the last committed end offset, so there is no
  *     driver-side mutable cursor to re-initialize on restart (the
  *     fragile part of the v1 `Source` contract this replaces).
  *
  * Watermarks and files come from the snapshots of the open
  * [[EventStore]] handle the store registry holds for `root` (none open:
  * [[StoreNotOpenException]]); the source holds the last handle it used.
  * `latestOffset` pins the published snapshot and offers its
  * watermarks, and `planInputPartitions` plans from it (or pins one for
  * a batch replayed after a restart). Pins are released on the next
  * `latestOffset`, which Structured Streaming calls only after the
  * previous batch has run, and on `stop()`: a batch's files stay on disk
  * through any swap, so every range handed out can be replayed.
  *
  *   - `planInputPartitions` emits one task per subscribed partition
  *     with events in the batch, holding the snapshot's files that
  *     overlap its (start, end] range (a task per file cost ~10 ms each
  *     on a 4-core VM); the `pids` option prunes partitions.
  *   - each task reads its files in sequence order
  *     ([[GraftPartitionReader]]) on an executor, like any batch scan.
  */
final class GraftEventMicroBatchStream(
    root: String,
    maxEventsPerTrigger: Option[Long],
    subscribedPids: Option[Set[Int]]) extends MicroBatchStream
    with SupportsAdmissionControl {

  // rotates the budget-allocation start partition so a hot low
  // partition cannot starve higher ones across triggers
  private var allocRotation: Int = 0
  // the handle last used, held so the registry's weak entry stays live
  private var store: EventStore = _
  // the snapshots pinned since the last latestOffset, newest first
  private var pinned = List.empty[(EventStore, EventStore.Snapshot)]

  private def handle(): EventStore = {
    store = EventStore.openHandle(root).getOrElse(throw new StoreNotOpenException(root))
    store
  }

  private def pin(): EventStore.Snapshot = {
    val s = handle().pin()
    pinned ::= store -> s
    s
  }

  private def release(): Unit = {
    pinned.foreach { case (es, s) => es.unpin(s) }
    pinned = Nil
  }

  private def watermarks(st: graft.storage.ManifestState): Map[Int, Long] = {
    val wm = st.watermarks.filter(_._2 >= 0)
    subscribedPids match {
      case Some(ps) => wm.filter { case (p, _) => ps.contains(p) }
      case None     => wm
    }
  }

  private def mergeMax(a: Map[Int, Long], b: Map[Int, Long]): Map[Int, Long] =
    (a.keySet ++ b.keySet).iterator
      .map(k => k -> math.max(a.getOrElse(k, -1L), b.getOrElse(k, -1L))).toMap

  override def getDefaultReadLimit: ReadLimit =
    maxEventsPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): V2Offset = SeqVectorOffset.empty

  override def deserializeOffset(json: String): V2Offset = SeqVectorOffset.parse(json)

  override def latestOffset(): V2Offset =
    throw new UnsupportedOperationException(
      "admission-control latestOffset(start, limit) is the entry point")

  override def latestOffset(start: V2Offset, limit: ReadLimit): V2Offset = synchronized {
    release()
    val cursor = SeqVectorOffset.of(start).seqs
    val wm = watermarks(pin().state)
    if (wm.isEmpty) return start
    val budget = limit match {
      case r: ReadMaxRows => Some(r.maxRows())
      case _              => None
    }
    val target = budget match {
      case None => mergeMax(cursor, wm)
      case Some(b) =>
        var rem = b
        // fair allocation: start at a different partition each trigger
        // (a partition ingesting >= budget/trigger would otherwise
        // consume the whole budget forever in ascending-pid order)
        val pids = wm.keys.toSeq.sorted
        allocRotation = if (pids.isEmpty) 0 else (allocRotation + 1) % pids.length
        val rotated = pids.drop(allocRotation) ++ pids.take(allocRotation)
        val adv = rotated.map { pid =>
          val w = wm(pid)
          val lo = cursor.getOrElse(pid, -1L)
          val take = math.max(0L, math.min(w - lo, rem))
          rem -= take
          pid -> (lo + take)
        }.toMap
        mergeMax(cursor, adv)
    }
    val offered = target.filter(_._2 >= 0)
    if (offered.isEmpty) start else SeqVectorOffset(offered)
  }

  override def reportLatestOffset(): V2Offset = synchronized {
    SeqVectorOffset(watermarks(handle().manifest))
  }

  override def planInputPartitions(
      start: V2Offset, end: V2Offset): Array[InputPartition] = synchronized {
    val s = SeqVectorOffset.of(start).seqs
    val e = SeqVectorOffset.of(end).seqs
    val snap = pinned.headOption.map(_._2)
      .filter(p => e.forall { case (pid, hi) => p.state.watermark(pid) >= hi })
      .getOrElse(pin())
    e.toSeq.sortBy(_._1).flatMap { case (pid, hi) =>
      val lo = s.getOrElse(pid, -1L)
      val files = snap.files.getOrElse(pid, Vector.empty)
        .filter(f => f.stats.maxSeq > lo && f.stats.minSeq <= hi)
        .sortBy(_.stats.minSeq)
      Option.when(hi > lo && files.nonEmpty)(GraftFilePartition(pid, lo, hi, files.map(_.file)))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new GraftReaderFactory

  override def commit(end: V2Offset): Unit = ()

  override def stop(): Unit = synchronized {
    release()
    store = null
  }

  override def toString: String = s"GraftEventMicroBatchStream[$root]"
}

/** No [[EventStore]] is open at `root`: the event source reads the
  * snapshots of an open handle, never the directory.
  */
final class StoreNotOpenException(val root: String)
  extends IllegalStateException(s"no EventStore is open at $root")

/** The files of one store partition that hold part of the batch's
  * (lo, hi] sequence range, in sequence order — one task per partition,
  * so a partition of many small append files costs one task, not one
  * per file.
  */
final case class GraftFilePartition(pid: Int, lo: Long, hi: Long,
    files: Seq[HeadProbe.File]) extends InputPartition

final class GraftReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftPartitionReader(partition.asInstanceOf[GraftFilePartition])
}

/** Reads a partition's (lo, hi] sequence range from its planned files
  * through [[HeadProbe.scan]], in sequence order. A pinned snapshot's
  * files are gapless up to its watermark, so a row that is not the next
  * sequence due is a bug: the read fails with `IllegalStateException`.
  * The event store's record decoder attaches `partition_id`. A file's
  * share of the range is decoded before its first row is handed on, so
  * a task holds at most that many rows.
  */
final class GraftPartitionReader(p: GraftFilePartition)
  extends PartitionReader[InternalRow] {

  private var due = p.lo + 1 // the next sequence to hand on
  private val rows = p.files.iterator.flatMap(read)
  private var current: Row = _
  private val toUnsafe = UnsafeProjection.create(EventSchema.schema)

  /** the rows of `f` from `due` up to `hi` */
  private def read(f: HeadProbe.File): Vector[Row] = {
    val out = Vector.newBuilder[Row]
    HeadProbe.scan(Seq(f), Seq(HeadProbe.Between("partition_sequence", due, p.hi))) { g =>
      val seq = g.getLong("partition_sequence", 0)
      if (seq != due) throw new IllegalStateException(
        s"partition ${p.pid}: $f holds sequence $seq where $due is due")
      out += EventStore.eventRow(p.pid, g)
      due += 1
      true
    }
    out.result()
  }

  override def next(): Boolean =
    if (rows.hasNext) {
      current = rows.next()
      true
    } else if (due <= p.hi)
      throw new IllegalStateException(s"partition ${p.pid}: no planned file holds $due..${p.hi}")
    else false

  override def get(): InternalRow =
    toUnsafe(InternalRow.fromSeq(current.toSeq.map {
      case s: String => UTF8String.fromString(s)
      case v => v
    }))

  override def close(): Unit = ()
}

/** The provider behind [[GraftEventSource.log]], which is the one place
  * that builds it: options `root`, `maxEventsPerTrigger` (optional) and
  * `pids` (optional, e.g. "3,17"), which restricts the source to the
  * subscription matcher's partitions and so prunes both the offset
  * vector and the planned file set.
  */
class GraftEventSourceProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-events"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EventSchema.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftEventTable

  /** Offsets/partitions come from the store's snapshot, not file listings. */
  override def supportsExternalMetadata(): Boolean = false
}

final class GraftEventTable extends Table with SupportsRead {

  override def name(): String = "graft-events"

  override def schema(): StructType = EventSchema.schema

  override def capabilities(): JSet[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new GraftEventScan(options)
    }
}

final class GraftEventScan(options: CaseInsensitiveStringMap) extends Scan {

  private val root = Option(options.get("root")).getOrElse(
    throw new IllegalArgumentException("graft-events source requires option 'root'"))

  override def readSchema(): StructType = EventSchema.schema

  override def description(): String = s"graft-events[$root]"

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftEventMicroBatchStream(
      root,
      Option(options.get("maxEventsPerTrigger")).map(_.toLong).filter(_ > 0),
      Option(options.get("pids")).map(_.split(",").map(_.trim.toInt).toSet))
}
