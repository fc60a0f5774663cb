package graft.storage

import java.nio.charset.{CharacterCodingException, StandardCharsets}
import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Commit manifest: the Spark-native analogue of SierraDB's confirmation
  * watermark (`crates/sierradb-cluster/src/confirmation.rs:83-156`,
  * `docs/Watermarks.md`). Readers only see events with
  * `partition_sequence <= watermark(partition)` — the gapless committed
  * prefix. A manifest version is committed by atomic rename, which gives
  * snapshot isolation for readers: they resolve the newest `v*.json`
  * once and every query in that snapshot is clamped consistently.
  *
  * Layout: `<root>/_manifest/v{N}.json`, each version either a full
  * CHECKPOINT (the whole state) or a DELTA: the watermarks and inline
  * heads one append changed, plus its base version `N-1`. An append's
  * commit therefore writes O(change) bytes, not O(inline heads) — the
  * delta-file-plus-snapshot scheme of Structured Streaming's state
  * store. Every commit other than an inline append, and every
  * [[CheckpointEvery]]-th version, is a checkpoint, so a version
  * resolves through at most `CheckpointEvery - 1` deltas to a
  * checkpoint; [[load]] applies them oldest first. Stream heads (the
  * "live index" role of `writer_thread_pool.rs:188-267`) are
  * LSM-shaped so the driver never holds more than a bounded overlay:
  *
  *   - `streamHeads` — the inline overlay: heads written since the last
  *     spill, bounded by the store's maxInlineHeads. Newest layer.
  *   - `headsDeltas` — versions of parquet delta tables at
  *     `<root>/_heads/delta-v{N}`, oldest first; each holds the heads
  *     spilled by one commit. Newer delta wins on key conflict.
  *   - `headsBase` — version of the folded parquet base table at
  *     `<root>/_heads/base-v{N}` (0 = none). Oldest layer.
  *
  * Parquet layers are written BEFORE the manifest commit that
  * references them (atomic rename), so a crash leaves at most an
  * unreferenced directory, deleted on next open. Watermarks stay
  * O(num_partitions) inline.
  */
final case class StreamHead(version: Long, partitionKey: String, partitionId: Int)

final case class ManifestState(
    version: Long,
    numPartitions: Int,
    // partition_id -> highest committed partition_sequence (-1 = empty)
    watermarks: Map[Int, Long],
    // inline head overlay: composite "pk:stream" key -> head state
    streamHeads: Map[String, StreamHead],
    // streaming-ingest idempotence: checkpoint id -> last applied batch
    // (a replayed foreachBatch after a crash between manifest commit and
    // checkpoint commit must be a no-op)
    streamBatchIds: Map[String, Long] = Map.empty,
    // parquet head-state layers (see scaladoc above)
    headsBase: Long = 0L,
    headsDeltas: Seq[Long] = Nil) {

  def watermark(pid: Int): Long = watermarks.getOrElse(pid, -1L)
}

object Manifest {
  private val Dir = "_manifest"
  private val VersionName = "v(\\d+)\\.json".r
  private val TempName = "\\.v(\\d+)\\.json\\.tmp".r

  /** Manifest versions retained after each commit. Readers resolve the
    * NEWEST version exactly once per snapshot and then hold the parsed
    * state in memory — older files are never re-read — so retention only
    * has to keep the newest version and its delta chain unambiguous
    * across the list/rename race. Without GC every append adds a file
    * forever and `load` (called per read snapshot and per streaming
    * trigger) lists O(commits) entries; with it the directory stays
    * O(Retain) at any command rate.
    */
  val Retain = 16

  /** Every this-many-th version is a checkpoint, so no delta chain is
    * longer than this minus one: half the retention window, so the
    * newest version's whole chain always lies inside the window.
    */
  val CheckpointEvery: Int = Retain / 2

  /** Diagnostic counter of full snapshot reads (list + read + parse).
    * Tests assert hot paths (e.g. the optimizer's head-lookup rewrite)
    * perform none.
    */
  val loads = new java.util.concurrent.atomic.AtomicLong(0)

  def dirFor(root: String): Path = Paths.get(root, Dir)

  private def versionsIn(dir: Path): Seq[Long] = {
    val listing = Files.list(dir)
    try listing.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case VersionName(v) => v.toLong }
      .toSeq
    finally listing.close()
  }

  /** Newest committed version NUMBER by directory listing alone — no
    * file read, no JSON parse. The cheap staleness probe that lets a
    * reader trust an in-memory snapshot of the same version.
    */
  def newestVersion(root: String): Option[Long] = {
    val dir = dirFor(root)
    if (!Files.isDirectory(dir)) None
    else versionsIn(dir).maxOption
  }

  def empty(numPartitions: Int): ManifestState =
    ManifestState(0L, numPartitions, Map.empty, Map.empty)

  /** Load the newest committed manifest version that resolves to a
    * complete state, if any (see [[loadChain]]).
    */
  def load(root: String): Option[ManifestState] = loadChain(root).map(_._1)

  /** [[load]], plus how many deltas the loaded version sits above its
    * checkpoint — the chain a writer extends with [[commitDelta]].
    *
    * Concurrent-GC safe: between listing the directory and reading a
    * version's chain, another committer's `gc` may delete part of it (a
    * reader that stalls for > Retain commits). Falling back to the
    * next-newest listed version is still a consistent snapshot — it was
    * the newest at some point after this call began — and if every
    * listed candidate vanished the directory has advanced by > Retain
    * versions, so re-listing observes a strictly newer one and
    * terminates. A torn version, or a delta whose base is gone, is
    * skipped the same way; a state is never partly applied. If every
    * version is present but none resolves, the store's history is lost
    * and this throws rather than report an empty store.
    */
  @annotation.tailrec
  def loadChain(root: String): Option[(ManifestState, Int)] = {
    loads.incrementAndGet()
    val dir = dirFor(root)
    if (!Files.isDirectory(dir)) return None
    val listed = versionsIn(dir).toSet
    if (listed.isEmpty) return None
    var vanished = false
    val resolved = listed.toSeq.sorted(Ordering[Long].reverse).iterator
      .map(v => resolve(dir, v, missing => vanished ||= listed.contains(missing)))
      .collectFirst { case Some(r) => r }
    resolved match {
      case some @ Some(_) => some
      case None if vanished => loadChain(root) // GC'd under us: re-list
      case None => throw new IllegalStateException(
        s"no manifest version under $dir resolves to a complete state")
    }
  }

  /** Version `v` as its checkpoint with the deltas above it applied
    * oldest first, and the number of those deltas. None when a file of
    * the chain is missing (`onMissing` is told its version) or
    * unreadable, or a delta's base is not the version just below it.
    */
  private def resolve(dir: Path, v: Long,
      onMissing: Long => Unit): Option[(ManifestState, Int)] = {
    var deltas = List.empty[Delta]
    var cur = v
    while (true) {
      read(dir, cur, onMissing) match {
        case Some(Right(full)) if full.version == cur =>
          val st = deltas.foldLeft(full) { (s, d) =>
            s.copy(version = d.version, watermarks = s.watermarks ++ d.watermarks,
              streamHeads = s.streamHeads ++ d.streamHeads)
          }
          return Some((st, deltas.size))
        case Some(Left(d)) if d.version == cur && d.base == cur - 1 =>
          deltas = d :: deltas
          cur = d.base
        case _ => return None
      }
    }
    None
  }

  private def read(dir: Path, v: Long,
      onMissing: Long => Unit): Option[Either[Delta, ManifestState]] =
    try Some(decode(Files.readString(dir.resolve(s"v$v.json"))))
    catch {
      case _: NoSuchFileException => onMissing(v); None
      // torn: cut off mid-character or mid-document
      case _: CharacterCodingException => None
      case NonFatal(e) if !e.isInstanceOf[java.io.IOException] => None
    }

  /** Commit a new manifest version as a full checkpoint: write temp
    * file + atomic rename.
    */
  def commit(root: String, state: ManifestState): Unit = {
    val dir = write(root, state.version, render(state))
    gc(dir, state.version)
  }

  /** Commit `next`, which differs from its base — the committed version
    * `next.version - 1`, `chain` deltas above its checkpoint (-1: the
    * base is not on disk) — only by the `watermarks` and inline `heads`
    * it adds or replaces. Written as a delta of just those entries;
    * as a full checkpoint when the base is not on disk or `next.version`
    * is a multiple of [[CheckpointEvery]].
    * Returns the new chain length (0 = checkpoint).
    */
  def commitDelta(root: String, next: ManifestState, chain: Int,
      watermarks: Map[Int, Long], heads: Map[String, StreamHead]): Int =
    if (chain < 0 || next.version % CheckpointEvery == 0) {
      commit(root, next)
      0
    } else {
      val d = Delta(next.version, next.version - 1, watermarks, heads)
      val dir = write(root, d.version, renderDelta(d))
      gc(dir, d.version)
      chain + 1
    }

  private def write(root: String, version: Long, json: String): Path = {
    val dir = dirFor(root)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".v$version.json.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(s"v$version.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  /** Best-effort retention after a successful commit: drop versions
    * ≤ `newest - Retain` (and any stale temp files from crashed commits
    * in that range). The newest version's chain is shorter than
    * [[CheckpointEvery]], so it is never among them. Deletion failures are
    * ignored — the next commit retries, and a lingering old version is
    * harmless because readers always take the max.
    */
  private def gc(dir: Path, newest: Long): Unit =
    // Truly best-effort: the manifest rename has already succeeded when gc
    // runs, so NOTHING thrown here may escape and report a durably
    // committed append as failed. Concurrent gc can make the directory
    // iteration itself throw (DirectoryIteratorException /
    // UncheckedIOException on entries vanishing mid-walk), not just the
    // deletes — swallow all non-fatal failures; the next commit retries.
    try {
      val cutoff = newest - Retain
      if (cutoff < 0) return
      val listing = Files.list(dir)
      try listing.iterator().asScala.foreach { p =>
        val ver = p.getFileName.toString match {
          case VersionName(v) => Some(v.toLong)
          case TempName(v)    => Some(v.toLong)
          case _              => None
        }
        ver.filter(_ <= cutoff).foreach { _ =>
          try Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () }
        }
      } finally listing.close()
    } catch { case NonFatal(_) => () }

  // --- minimal JSON codec (no external deps available offline) ---

  /** What one inline append changed on top of version `base`. */
  private final case class Delta(version: Long, base: Long,
      watermarks: Map[Int, Long], streamHeads: Map[String, StreamHead])

  /** `s` JSON-escaped into `b`; a string that needs no escaping (every
    * stream id and key in practice) is appended as is.
    */
  private def esc(b: java.lang.StringBuilder, s: String): Unit = {
    var i = 0
    while (i < s.length && { val c = s.charAt(i); c >= ' ' && c != '"' && c != '\\' }) i += 1
    if (i == s.length) b.append(s)
    else s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
  }

  private def renderEntries(b: java.lang.StringBuilder,
      watermarks: Map[Int, Long], heads: Map[String, StreamHead]): Unit = {
    b.append(",\"watermarks\":{")
    var first = true
    watermarks.toSeq.sorted.foreach { case (p, w) =>
      if (!first) b.append(','); first = false
      b.append('"').append(p).append("\":").append(w)
    }
    b.append("},\"stream_heads\":{")
    first = true
    heads.toSeq.sortBy(_._1).foreach { case (sid, h) =>
      if (!first) b.append(','); first = false
      b.append('"'); esc(b, sid); b.append("\":[").append(h.version).append(",\"")
      esc(b, h.partitionKey); b.append("\",").append(h.partitionId).append(']')
    }
    b.append('}')
  }

  def render(m: ManifestState): String = {
    val b = new java.lang.StringBuilder(128 + 64 * m.streamHeads.size)
    b.append("{\"version\":").append(m.version)
      .append(",\"num_partitions\":").append(m.numPartitions)
    renderEntries(b, m.watermarks, m.streamHeads)
    b.append(",\"stream_batch_ids\":{")
    var first = true
    m.streamBatchIds.toSeq.sortBy(_._1).foreach { case (k, v) =>
      if (!first) b.append(','); first = false
      b.append('"'); esc(b, k); b.append("\":").append(v)
    }
    b.append("},\"heads_base\":").append(m.headsBase)
      .append(",\"heads_deltas\":").append(m.headsDeltas.mkString("[", ",", "]"))
      .append('}')
      .toString
  }

  private def renderDelta(d: Delta): String = {
    val b = new java.lang.StringBuilder(128 + 64 * d.streamHeads.size)
    b.append("{\"version\":").append(d.version).append(",\"base\":").append(d.base)
    renderEntries(b, d.watermarks, d.streamHeads)
    b.append('}').toString
  }

  /** Tiny recursive-descent JSON parser for exactly what `render` emits.
    * Integral fields parse through Long directly: partition sequences /
    * watermarks must stay exact past 2^53, where a Double round-trip
    * would silently round and corrupt watermark clamping.
    */
  def parse(s: String): ManifestState = decode(s) match {
    case Right(st) => st
    case Left(d) => throw new IllegalArgumentException(
      s"version ${d.version} is a delta over ${d.base}: resolve it through load")
  }

  /** A checkpoint (Right) or a delta (Left, marked by its `base`). */
  private def decode(s: String): Either[Delta, ManifestState] = {
    val obj = new JsonP(s).obj()
    def asLong(v: Any): Long = v match {
      case l: Long   => l
      case d: Double => d.toLong
      case other     => throw new IllegalArgumentException(s"not a number: $other")
    }
    val version = asLong(obj("version"))
    val wm = obj("watermarks").asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k.toInt -> asLong(v) }
    val heads = obj("stream_heads").asInstanceOf[Map[String, Any]]
      .map { case (k, v) =>
        val arr = v.asInstanceOf[Vector[Any]]
        k -> StreamHead(
          asLong(arr(0)),
          arr(1).asInstanceOf[String],
          asLong(arr(2)).toInt)
      }
    obj.get("base") match {
      case Some(base) => Left(Delta(version, asLong(base), wm, heads))
      case None =>
        val np = asLong(obj("num_partitions")).toInt
        val batches = obj.get("stream_batch_ids")
          .map(_.asInstanceOf[Map[String, Any]]
            .map { case (k, v) => k -> asLong(v) })
          .getOrElse(Map.empty[String, Long])
        val headsBase = obj.get("heads_base").map(asLong).getOrElse(0L)
        val headsDeltas = obj.get("heads_deltas")
          .map(_.asInstanceOf[Vector[Any]].map(asLong).toSeq)
          .getOrElse(Nil)
        Right(ManifestState(version, np, wm, heads, batches, headsBase, headsDeltas))
    }
  }

  private final class JsonP(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    private def expect(c: Char): Unit = { ws(); require(s(i) == c, s"expected $c at $i"); i += 1 }
    def obj(): Map[String, Any] = {
      expect('{'); ws()
      val m = mutable.Map.empty[String, Any]
      if (s(i) == '}') { i += 1; return m.toMap }
      while (true) {
        val k = str(); expect(':'); m(k) = value(); ws()
        if (s(i) == ',') { i += 1 } else { expect('}'); return m.toMap }
      }
      m.toMap
    }
    private def arr(): Vector[Any] = {
      expect('['); ws()
      val b = Vector.newBuilder[Any]
      if (s(i) == ']') { i += 1; return b.result() }
      while (true) {
        b += value(); ws()
        if (s(i) == ',') { i += 1 } else { expect(']'); return b.result() }
      }
      b.result()
    }
    private def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          s(i) match {
            case 'n' => sb += '\n'; case 'r' => sb += '\r'; case 't' => sb += '\t'
            case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case c   => sb += c
          }
        } else sb += s(i)
        i += 1
      }
      i += 1
      sb.toString
    }
    def value(): Any = {
      ws()
      s(i) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _ =>
          val start = i
          while (i < s.length && "+-0123456789.eE".indexOf(s(i)) >= 0) i += 1
          val tok = s.substring(start, i)
          // integral → exact Long (sequences can exceed 2^53); only
          // fractional/exponent forms fall back to Double
          if (tok.exists(c => c == '.' || c == 'e' || c == 'E')) tok.toDouble
          else tok.toLong
      }
    }
  }
}
