package graft.streaming

import java.util.{Map => JMap, Set => JSet}

import graft.api.EventStore
import graft.core.EventSchema
import graft.storage.{HeadProbe, Manifest}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset => V2Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

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
  * compaction (all-new paths, same rows) redelivers history, and rate
  * limiting is files-per-trigger. Here:
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
  * Planning reads the store from disk, not from a live handle's
  * snapshot: a subscription must see commits made through any handle
  * on the root (another process, a reopened store), and a handle's
  * snapshot only knows its own. Each trigger costs one manifest load
  * (`latestOffset`) and one listing per subscribed partition with new
  * events (`planInputPartitions`). The offsets plan a batch and a scan
  * reads it, the split of Structured Streaming's sources:
  *
  *   - `planInputPartitions` emits one task per pid under the
  *     subscribed partition directories only — directory pruning comes
  *     from the subscription matcher's pid set (`pids` option), not
  *     from optimizer goodwill. Files wholly outside the batch's
  *     (start, end] range are dropped from their footer statistics (a
  *     partition fed by single-event appends holds thousands of small
  *     files, and a task per file cost ~10 ms each on a 4-core VM). The
  *     source keeps the file objects of the files it last listed, so a
  *     file's footer is read once, not once per trigger; a file that
  *     leaves the listing (compaction, orphan recovery) is dropped.
  *   - each task reads its files through [[HeadProbe.scan]] with the
  *     bounds `partition_sequence` in [start + 1, end], pruned by
  *     row-group statistics, and decodes records with the event store's
  *     decoder. A file a rollover or `compact()` replaced after planning
  *     is found again by listing the partition anew
  *     ([[GraftPartitionReader]]). Readers run on executors, distributed
  *     like any batch scan; nothing funnels through the driver.
  */
final class GraftEventMicroBatchStream(
    root: String,
    maxEventsPerTrigger: Option[Long],
    subscribedPids: Option[Set[Int]]) extends MicroBatchStream
    with SupportsAdmissionControl {

  // rotates the budget-allocation start partition so a hot low
  // partition cannot starve higher ones across triggers
  private var allocRotation: Int = 0
  // per partition, the files of its last listing by path
  private var listed = Map.empty[Int, Map[String, HeadProbe.File]]

  private def watermarks(): Map[Int, Long] = {
    val wm = Manifest.load(root)
      .map(_.watermarks.filter(_._2 >= 0)).getOrElse(Map.empty)
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
    val cursor = SeqVectorOffset.of(start).seqs
    val wm = watermarks()
    if (wm.isEmpty) return start
    val budget = limit match {
      case r: ReadMaxRows      => Some(r.maxRows())
      case _: ReadAllAvailable => None
      case _                   => None
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

  override def reportLatestOffset(): V2Offset = SeqVectorOffset(watermarks())

  override def planInputPartitions(
      start: V2Offset, end: V2Offset): Array[InputPartition] = synchronized {
    val s = SeqVectorOffset.of(start).seqs
    val e = SeqVectorOffset.of(end).seqs
    e.toSeq.sortBy(_._1).flatMap { case (pid, hi) =>
      val lo = s.getOrElse(pid, -1L)
      val files =
        if (hi <= lo) Nil
        else {
          val known = listed.getOrElse(pid, Map.empty)
          val now = HeadProbe.listFiles(GraftEventSource.partitionDir(root, pid))
            .map(f => known.getOrElse(f.path, f))
          listed = listed.updated(pid, now.map(f => f.path -> f).toMap)
          // footer statistics drop every file wholly outside (lo, hi]
          // before any task opens it, and every file that vanished
          // before its footer was read
          now.filter(f => GraftEventSource.seqRange(f)
            .exists { case (min, max) => max > lo && min <= hi })
        }
      Option.when(files.nonEmpty)(GraftFilePartition(root, pid, lo, hi, files))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new GraftReaderFactory

  override def commit(end: V2Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"GraftEventMicroBatchStream[$root]"
}

/** The files of one store partition that hold part of the batch's
  * (lo, hi] sequence range — one task per partition, so a partition of
  * many small append files costs one task, not one per file.
  */
final case class GraftFilePartition(root: String, pid: Int, lo: Long, hi: Long,
    files: Seq[HeadProbe.File]) extends InputPartition

final class GraftReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftPartitionReader(partition.asInstanceOf[GraftFilePartition])
}

/** A partition's events in (lo, hi] are not on disk: after
  * [[GraftEventSource.MaxStaleRelists]] re-listings that found none of
  * the missing sequences, the next one to deliver is `missing`.
  */
final class MissingEventsException(val pid: Int, val missing: Long, val hi: Long)
  extends IllegalStateException(
    s"partition $pid: events $missing..$hi of a committed range are on no listed file")

/** Reads a partition's (lo, hi] sequence range from its files through
  * [[HeadProbe.scan]], exactly once and in sequence order, while
  * rollovers and `compact()` replace the files under it. The planned
  * files are read in order of their lowest sequence (widest first on a
  * tie, so a merged file comes before the inputs it replaced), skipping
  * every row at or below the last sequence handed on. When a file has
  * vanished, or the next file does not start at the next sequence, the
  * partition directory is listed again and reading goes on from there:
  * sequences up to the watermark are gapless, so the range is on disk.
  * Re-listings that make no progress are bounded. The directory-derived
  * `partition_id` is attached by the event store's record decoder
  * (Hive-style layout keeps it out of the files). A file's share of the
  * range is decoded before its first row is handed on, so a task holds
  * at most that many rows; `maxEventsPerTrigger` bounds the range.
  */
final class GraftPartitionReader(p: GraftFilePartition)
  extends PartitionReader[InternalRow] {

  private var last = p.lo // the highest sequence handed on
  private var pending = ordered(p.files)
  private var rows: Iterator[Row] = Iterator.empty
  private var current: Row = _
  private var relists = 0 // re-listings in a row that handed nothing on
  private var lastAtRelist = p.lo
  private val toUnsafe = UnsafeProjection.create(EventSchema.schema)
  private val seqField = EventSchema.schema.fieldIndex("partition_sequence")

  /** files that may hold sequences above `last`, by lowest sequence */
  private def ordered(files: Seq[HeadProbe.File]): List[(HeadProbe.File, Long, Long)] =
    files.flatMap(f => GraftEventSource.seqRange(f).map { case (lo, hi) => (f, lo, hi) })
      .filter { case (_, lo, hi) => hi > last && lo <= p.hi }
      .sortBy { case (f, lo, hi) => (lo, -hi, f.path) }
      .toList

  private def relist(): Unit = {
    relists = if (last > lastAtRelist) 1 else relists + 1
    lastAtRelist = last
    if (relists > GraftEventSource.MaxStaleRelists)
      throw new MissingEventsException(p.pid, last + 1, p.hi)
    if (relists > 1) Thread.sleep(10L * relists) // let a swap finish
    pending = ordered(HeadProbe.listFiles(GraftEventSource.partitionDir(p.root, p.pid)))
  }

  /** the rows of `f` from `last + 1` on, up to the first gap; none when
    * `f` is gone
    */
  private def read(f: HeadProbe.File): Vector[Row] = {
    val out = Vector.newBuilder[Row]
    var next = last + 1
    try HeadProbe.scan(Seq(f), Seq(HeadProbe.Between("partition_sequence", next, p.hi))) { g =>
      val ok = g.getLong("partition_sequence", 0) == next
      if (ok) { out += EventStore.eventRow(p.pid, g); next += 1 }
      ok
    } catch {
      case _: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException =>
    }
    out.result()
  }

  override def next(): Boolean = {
    // a file that is gone, or breaks off, leaves the next file short of
    // `last + 1`: that re-lists
    while (!rows.hasNext && last < p.hi) pending match {
      case (f, lo, hi) :: rest if lo <= last + 1 =>
        pending = rest
        if (hi > last) rows = read(f).iterator
      case _ => relist()
    }
    rows.hasNext && {
      current = rows.next()
      last = current.getLong(seqField)
      true
    }
  }

  override def get(): InternalRow =
    toUnsafe(InternalRow.fromSeq(current.toSeq.map {
      case s: String => UTF8String.fromString(s)
      case v => v
    }))

  override def close(): Unit = ()
}

object GraftEventSource {
  /** re-listings in a row that find none of a range's missing events
    * before a reader gives up
    */
  val MaxStaleRelists = 5

  def partitionDir(root: String, pid: Int): String = s"$root/events/partition_id=$pid"

  /** a file's (min, max) `partition_sequence` from its footer; None when
    * the file vanished before its footer was read
    */
  def seqRange(f: HeadProbe.File): Option[(Long, Long)] =
    try f.longRange("partition_sequence")
    catch {
      case _: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException => None
    }
}

/** `spark.readStream.format(classOf[GraftEventSourceProvider].getName)
  * .option("root", storeRoot).option("maxEventsPerTrigger", n)
  * .option("pids", "3,17").load()` — `pids` (optional) restricts the
  * source to the subscription matcher's partitions, which prunes both
  * the offset vector and the planned file set.
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

  /** Offsets/partitions come from the manifest, not file listings. */
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
