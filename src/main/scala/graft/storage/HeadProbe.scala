package graft.storage

import scala.jdk.CollectionConverters._

import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.column.statistics.{BinaryStatistics, LongStatistics}
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile}
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
  *     bloom filter ([[probeStream]]);
  *   - event partitions (`<root>/events/partition_id=N`): files sorted
  *     by partition_sequence, event_id bloom filter (`EventStore`'s
  *     command reads and the streaming source's reader call [[scan]]).
  *
  * [[scan]] prunes in three steps, metadata-only until a row group
  * survives:
  *   1. row-group min/max statistics against every predicate;
  *   2. the row group's bloom filter for each equality predicate (rules
  *      out absent keys without reading data pages);
  *   3. a record scan of the surviving row groups, passing on only the
  *      records that satisfy every predicate exactly.
  *
  * A file's metadata lives with the file: a [[File]] reads its footer
  * and each bloom filter once, on first use, and keeps them for its own
  * life. The reference opens and drops a segment's indexes with the
  * segment; here whoever holds the file objects decides how long the
  * metadata lives — the event store's snapshot for its data files and
  * head layers, the streaming source for the files it listed. Files are
  * never rewritten in place (appends and compaction write new names), so
  * an object never describes a different file than the one it read.
  * Files are opened through parquet's `LocalInputFile`, not Hadoop's
  * local filesystem: no stat, no checksum stream, no Hadoop
  * configuration.
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

  /** One parquet data file at local `path`, with its footer and its bloom
    * filters per (row group, column), each read on first use. A task
    * carries it to an executor without its metadata, which is read again
    * there.
    */
  final class File(val path: String) extends Serializable {
    @transient private[HeadProbe] lazy val footer: ParquetMetadata = {
      val in = input
      val s = in.newStream()
      try ParquetFileReader.readFooter(in, options(), s) finally s.close()
    }
    // None: the column has no bloom filter in that row group
    @transient private lazy val blooms =
      new java.util.concurrent.ConcurrentHashMap[(Int, String), Option[BloomFilter]]()

    private def input = new LocalInputFile(java.nio.file.Paths.get(path))

    /** a reader over the cached footer; the caller closes it */
    private[HeadProbe] def open(): ParquetFileReader = {
      val in = input
      val s = in.newStream()
      try new ParquetFileReader(in, footer, options(), s)
      catch { case e: Throwable => s.close(); throw e }
    }

    private[HeadProbe] def bloom(block: Int, column: String,
        reader: => ParquetFileReader): Option[BloomFilter] =
      blooms.computeIfAbsent((block, column), { _ =>
        val b = footer.getBlocks.get(block)
        val c = footer.getFileMetaData.getSchema.getFieldIndex(column)
        Option(reader.getBloomFilterDataReader(b).readBloomFilter(b.getColumns.get(c)))
      })

    /** the file's row count, from its footer */
    def rows: Long = footer.getBlocks.asScala.map(_.getRowCount).sum

    /** (min, max) of an int64 column over the whole file, from footer
      * statistics alone; None when some row group carries no statistics.
      */
    def longRange(column: String): Option[(Long, Long)] = {
      val c = footer.getFileMetaData.getSchema.getFieldIndex(column)
      val ranges = footer.getBlocks.asScala.map(_.getColumns.get(c).getStatistics match {
        case s: LongStatistics if s.hasNonNullValue => Some((s.getMin, s.getMax))
        case _ => None
      })
      if (ranges.isEmpty || ranges.contains(None)) None
      else Some((ranges.flatten.map(_._1).min, ranges.flatten.map(_._2).max))
    }

    override def toString: String = path
  }

  /** Read options for one reader. Each reader needs its own: closing a
    * reader releases its options' codec factory. A plain configuration
    * costs microseconds; a Hadoop one parses its default resources.
    */
  private def options(): ParquetReadOptions =
    ParquetReadOptions.builder(new PlainParquetConfiguration()).build()

  /** The parquet data files directly under `dir`, by name; hidden names
    * (`.`/`_` prefix: in-flight temp files, checksums, markers) are
    * skipped exactly as Spark's file index skips them. A missing
    * directory is empty.
    */
  def listFiles(dir: String): Seq[File] =
    graft.core.Fs.list(java.nio.file.Paths.get(dir))
      .filter { p =>
        val name = p.getFileName.toString
        name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_") &&
          java.nio.file.Files.isRegularFile(p)
      }
      .sortBy(_.getFileName.toString)
      .map(p => new File(p.toString))

  /** Visit every record of `files` that satisfies all `preds`, in file
    * then row order, until `visit` returns false. `contiguous` declares
    * a layout sorted on the predicate columns: a row group's matches are
    * adjacent, so its scan stops at the first miss after a match.
    */
  def scan(files: Seq[File], preds: Seq[Pred],
      contiguous: Boolean = false)(visit: Group => Boolean): Unit = {
    val fi = files.iterator
    while (fi.hasNext) if (!scanFile(fi.next(), preds, contiguous, visit)) return
  }

  /** ALL (partition_key, partition_id, version) entries of one stream
    * id in one head layer (its `files`). Keys are unique within a layer
    * (a layer is a snapshot of a head map); layer precedence (newest
    * delta wins over base) is the CALLER's job.
    */
  def probeStream(files: Seq[File], streamId: String): Seq[(String, Int, Long)] = {
    val out = Seq.newBuilder[(String, Int, Long)]
    scan(files, Seq(Eq("stream_id", streamId)), contiguous = true) { g =>
      out += ((g.getString("partition_key", 0),
        g.getInteger("partition_id", 0), g.getLong("version", 0)))
      true
    }
    out.result()
  }

  /** false when `visit` asked to stop */
  private def scanFile(file: File, preds: Seq[Pred],
      contiguous: Boolean, visit: Group => Boolean): Boolean = {
    val footer = file.footer
    val schema = footer.getFileMetaData.getSchema
    val cols = preds.map(p => schema.getFieldIndex(p.column))
    val blocks = footer.getBlocks

    // 1. metadata-only: row groups whose statistics admit every predicate
    val inRange = (0 until blocks.size()).filter { b =>
      preds.indices.forall(i =>
        statsAdmit(preds(i), blocks.get(b).getColumns.get(cols(i)).getStatistics))
    }
    if (inRange.isEmpty) return true

    // 2.+3. one reader, opened on first need, for the bloom filters the
    //    file has not read yet and the surviving row-group scans
    var reader: ParquetFileReader = null
    def theReader(): ParquetFileReader = {
      if (reader == null) reader = file.open()
      reader
    }
    try {
      val candidates = inRange.filter { b =>
        preds.forall {
          case eq: Eq => file.bloom(b, eq.column, theReader()).forall(
            bloom => bloom.findHash(bloom.hash(eq.binary)))
          case _ => true
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
