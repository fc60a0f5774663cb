package graft.storage

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.{BinaryStatistics, LongStatistics}
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary

/** Driver-side, footer-pruned parquet reads — NO Spark job. A serving
  * path (EGET, ESCAN, EPSCAN, a layered ESVER) must not pay scheduler
  * latency (~90 ms per job) for an answer the parquet footers narrow to
  * a row group or two; the reference's analogue is its per-segment
  * index probe (`crates/sierradb/src/database.rs:298-357`,
  * `bucket/segment/read.rs`). Two layouts use it:
  *
  *   - head layers (`<root>/_heads/{delta,base}-v{n}`): range-
  *     partitioned and sorted on (stream_id, partition_key), stream_id
  *     bloom filter ([[probe]], [[probeStream]]);
  *   - event partitions (`<root>/events/partition_id=N`): files sorted
  *     by partition_sequence, event_id bloom filter (`EventStore`'s
  *     command reads call [[scan]] directly on the files of their
  *     snapshot's file index).
  *
  * [[scan]] prunes in three steps, metadata-only until a row group
  * survives:
  *   1. row-group min/max statistics against every predicate;
  *   2. the row group's bloom filter for each equality predicate (rules
  *      out absent keys without reading data pages);
  *   3. a record scan of the surviving row groups, passing on only the
  *      records that satisfy every predicate exactly.
  *
  * Data FILES are immutable once written — appends and compaction write
  * new names, never rewrite one — so footers and bloom filters are
  * cached process-wide by path. Directory listings are cached only for
  * directories that are immutable as a whole: committed head layers.
  * The one layer directory that CAN be rewritten is an uncommitted
  * orphan (written, crash before the manifest commit, deleted on
  * reopen, version number reused by the next spill) — safe because
  * callers only probe layers a committed manifest snapshot references,
  * so an uncommitted layer is never listed, hence never cached. An
  * event partition gains a file per append: its listing is not cached
  * here; the command reads take its files from the event store's
  * snapshot file index instead. The caches are bounded by the live
  * file count: callers drop a store's entries when its files are
  * replaced ([[invalidate]] on head fold/spill, compaction and open).
  */
object HeadProbe {

  /** A per-column predicate, exact on records and conservative on
    * footer statistics and bloom filters.
    */
  sealed trait Pred { def column: String }
  /** string column equals `value` (stats + bloom filter prunable) */
  final case class Eq(column: String, value: String) extends Pred {
    private[HeadProbe] val binary: Binary = Binary.fromString(value)
  }
  /** int64 column within [lo, hi], inclusive (stats prunable) */
  final case class Between(column: String, lo: Long, hi: Long) extends Pred

  // private[storage] so the spec can pin invalidate()'s path-boundary
  // semantics directly against the cache keys
  private[storage] val dirListings =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Path]]()
  private val footers =
    new java.util.concurrent.ConcurrentHashMap[String, ParquetMetadata]()
  // per (file, rowGroup, column): None = column has no bloom filter
  private val blooms = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, String), Option[BloomFilter]]()

  /** Drop every cached listing/footer/bloom under `rootPrefix` (a
    * store root, its `_heads` or `events` tree, or one file). The
    * caches are keyed on bare paths and would otherwise outlive the
    * files they describe two ways: entries for folded-away layers and
    * compacted-away event files accumulate for the life of the JVM, and
    * a store path deleted and recreated within one process (test
    * harnesses, reused temp dirs) would be served stale metadata. Both
    * sides are normalized through Hadoop `Path` to the bare URI path
    * before matching: cached keys may carry a filesystem scheme
    * (`file:/...` from listStatus) while callers may pass bare paths,
    * `file:///`-form URIs, or trailing slashes — raw substring matching
    * would silently miss (and leave stale) every entry for a URI-form
    * store root.
    */
  def invalidate(rootPrefix: String): Unit = {
    val want = new Path(rootPrefix).toUri.getPath
    // path-BOUNDARY match, not bare startsWith: invalidating
    // `/x/_heads` must not also drop a sibling store whose directory
    // name merely extends it (`/x/_heads-backup`) — only
    // over-invalidation, but it silently crosses store boundaries.
    // Hadoop Path normalization strips trailing slashes, so `want`
    // never ends with "/" and the "/"-suffix probe is exact.
    def hit(key: String): Boolean = {
      val p = new Path(key).toUri.getPath
      p == want || p.startsWith(want + "/")
    }
    dirListings.keySet.removeIf(hit(_))
    footers.keySet.removeIf(hit(_))
    blooms.keySet.removeIf(k => hit(k._1))
  }

  /** Parquet data files directly under `dir`, by name; hidden names
    * (`.`/`_` prefix: in-flight temp files, checksums, markers) are
    * skipped exactly as Spark's file index skips them. A missing
    * directory is empty. `immutable` caches the listing.
    */
  def listFiles(dir: String, conf: Configuration,
      immutable: Boolean = false): Seq[Path] = {
    def list(d: String): Seq[Path] = {
      val dirPath = new Path(d)
      val fs = dirPath.getFileSystem(conf)
      if (!fs.exists(dirPath)) Nil
      else fs.listStatus(dirPath).toSeq
        .filter(st => st.isFile && isDataFile(st.getPath.getName))
        .map(_.getPath)
        .sortBy(_.getName)
    }
    if (immutable) dirListings.computeIfAbsent(dir, list(_)) else list(dir)
  }

  /** A visible parquet data file name: not hidden by a `.`/`_` prefix. */
  def isDataFile(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_")

  /** (min, max) of an int64 column over the whole file, from footer
    * statistics alone; None when some row group carries no statistics.
    */
  def longRange(file: Path, column: String,
      conf: Configuration): Option[(Long, Long)] = {
    val footer = footerOf(file, conf)
    val c = footer.getFileMetaData.getSchema.getFieldIndex(column)
    val ranges = footer.getBlocks.asScala.map(_.getColumns.get(c).getStatistics match {
      case s: LongStatistics if s.hasNonNullValue => Some((s.getMin, s.getMax))
      case _ => None
    })
    if (ranges.isEmpty || ranges.contains(None)) None
    else Some((ranges.flatten.map(_._1).min, ranges.flatten.map(_._2).max))
  }

  /** Visit every record of `files` that satisfies all `preds`, in file
    * then row order, until `visit` returns false. `contiguous` declares
    * a layout sorted on the predicate columns: a row group's matches are
    * adjacent, so its scan stops at the first miss after a match.
    */
  def scan(files: Seq[Path], preds: Seq[Pred], conf: Configuration,
      contiguous: Boolean = false)(visit: Group => Boolean): Unit = {
    val fi = files.iterator
    while (fi.hasNext) if (!scanFile(fi.next(), preds, conf, contiguous, visit)) return
  }

  /** (partition_id, version) for the (stream_id, partition_key) head
    * entry in one layer directory, or None if absent. Keys are unique
    * within a layer (a layer is a snapshot of a head map), so the first
    * match IS the layer's entry. Layer precedence (newest delta wins
    * over base) is the CALLER's job: probe layers newest-first and stop
    * at the first hit.
    */
  def probe(dir: String, streamId: String, partitionKey: String,
      conf: Configuration): Option[(Int, Long)] = {
    var hit: Option[(Int, Long)] = None
    scan(listFiles(dir, conf, immutable = true),
        Seq(Eq("stream_id", streamId), Eq("partition_key", partitionKey)), conf) { g =>
      hit = Some((g.getInteger("partition_id", 0), g.getLong("version", 0)))
      false
    }
    hit
  }

  /** ALL (partition_key, partition_id, version) entries of one stream
    * id in one layer directory — the per-stream analogue of [[probe]]
    * (ESVER wants every partition key's head for a stream).
    */
  def probeStream(dir: String, streamId: String,
      conf: Configuration): Seq[(String, Int, Long)] = {
    val out = Seq.newBuilder[(String, Int, Long)]
    scan(listFiles(dir, conf, immutable = true), Seq(Eq("stream_id", streamId)), conf,
        contiguous = true) { g =>
      out += ((g.getString("partition_key", 0),
        g.getInteger("partition_id", 0), g.getLong("version", 0)))
      true
    }
    out.result()
  }

  private def footerOf(file: Path, conf: Configuration): ParquetMetadata =
    footers.computeIfAbsent(file.toString, { _ =>
      ParquetFileReader.readFooter(conf, file, ParquetMetadataConverter.NO_FILTER)
    })

  /** false when `visit` asked to stop */
  private def scanFile(file: Path, preds: Seq[Pred], conf: Configuration,
      contiguous: Boolean, visit: Group => Boolean): Boolean = {
    val footer = footerOf(file, conf)
    val schema = footer.getFileMetaData.getSchema
    val cols = preds.map(p => schema.getFieldIndex(p.column))
    val blocks = footer.getBlocks

    // 1. metadata-only: row groups whose statistics admit every predicate
    val inRange = (0 until blocks.size()).filter { b =>
      preds.indices.forall(i =>
        statsAdmit(preds(i), blocks.get(b).getColumns.get(cols(i)).getStatistics))
    }
    if (inRange.isEmpty) return true

    // 2.+3. one reader for the bloom checks (cached after first touch)
    //    and the surviving row-group scans
    var reader: ParquetFileReader = null
    def theReader(): ParquetFileReader = {
      if (reader == null) reader = new ParquetFileReader(conf, file, footer)
      reader
    }
    try {
      val candidates = inRange.filter { b =>
        preds.indices.forall { i =>
          preds(i) match {
            case eq: Eq =>
              blooms.computeIfAbsent((file.toString, b, eq.column), { _ =>
                Option(theReader().getBloomFilterDataReader(blocks.get(b))
                  .readBloomFilter(blocks.get(b).getColumns.get(cols(i))))
              }) match {
                case Some(bloom) => bloom.findHash(bloom.hash(eq.binary))
                case None => true // no bloom filter: cannot prune
              }
            case _ => true
          }
        }
      }
      val columnIO = new ColumnIOFactory().getColumnIO(schema)
      val ci = candidates.iterator
      while (ci.hasNext) {
        val b = ci.next()
        val recordReader = columnIO.getRecordReader(
          theReader().readRowGroup(b), new GroupRecordConverter(schema))
        var i = 0L
        val n = blocks.get(b).getRowCount
        var matched = false
        var done = false
        while (i < n && !done) {
          val g = recordReader.read()
          if (preds.forall(matches(_, g))) {
            matched = true
            if (!visit(g)) return false
          } else if (contiguous && matched) done = true
          i += 1
        }
      }
      true
    } finally if (reader != null) reader.close()
  }

  private def statsAdmit(p: Pred,
      st: org.apache.parquet.column.statistics.Statistics[_]): Boolean =
    (p, st) match {
      case (eq: Eq, s: BinaryStatistics) if s.hasNonNullValue =>
        UnsignedBinary.compare(s.genericGetMin, eq.binary) <= 0 &&
          UnsignedBinary.compare(s.genericGetMax, eq.binary) >= 0
      case (r: Between, s: LongStatistics) if s.hasNonNullValue =>
        s.getMin <= r.hi && s.getMax >= r.lo
      case _ => true // no statistics: cannot prune
    }

  private def matches(p: Pred, g: Group): Boolean = p match {
    case eq: Eq =>
      g.getFieldRepetitionCount(eq.column) > 0 &&
        g.getBinary(eq.column, 0) == eq.binary
    case r: Between =>
      g.getFieldRepetitionCount(r.column) > 0 && {
        val v = g.getLong(r.column, 0)
        v >= r.lo && v <= r.hi
      }
  }

  /** unsigned lexicographic byte compare — parquet's string order */
  private object UnsignedBinary {
    def compare(a: Binary, b: Binary): Int = {
      val x = a.getBytesUnsafe
      val y = b.getBytesUnsafe
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }
  }
}
