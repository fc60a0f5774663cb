package graft.storage

import java.nio.charset.{CharacterCodingException, StandardCharsets}
import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JacksonException, JsonFactory, JsonGenerator}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

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
      // torn: cut off mid-character or mid-document (Jackson's parse
      // errors are IOExceptions, unlike a failure to read the file)
      case _: CharacterCodingException | _: JacksonException => None
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

  // --- JSON codec: Jackson's generator and tree parser ---

  /** What one inline append changed on top of version `base`. */
  private final case class Delta(version: Long, base: Long,
      watermarks: Map[Int, Long], streamHeads: Map[String, StreamHead])

  // both thread-safe once configured
  private val json = new JsonFactory()
  private val mapper = new ObjectMapper(json)

  private def generate(sizeHint: Int)(body: JsonGenerator => Unit): String = {
    val w = new java.io.StringWriter(sizeHint)
    val g = json.createGenerator(w)
    try {
      g.writeStartObject()
      body(g)
      g.writeEndObject()
    } finally g.close()
    w.toString
  }

  private def writeEntries(g: JsonGenerator,
      watermarks: Map[Int, Long], heads: Map[String, StreamHead]): Unit = {
    g.writeObjectFieldStart("watermarks")
    watermarks.toSeq.sorted.foreach { case (p, w) => g.writeNumberField(p.toString, w) }
    g.writeEndObject()
    g.writeObjectFieldStart("stream_heads")
    heads.toSeq.sortBy(_._1).foreach { case (sid, h) =>
      g.writeArrayFieldStart(sid)
      g.writeNumber(h.version)
      g.writeString(h.partitionKey)
      g.writeNumber(h.partitionId)
      g.writeEndArray()
    }
    g.writeEndObject()
  }

  def render(m: ManifestState): String = generate(128 + 64 * m.streamHeads.size) { g =>
    g.writeNumberField("version", m.version)
    g.writeNumberField("num_partitions", m.numPartitions)
    writeEntries(g, m.watermarks, m.streamHeads)
    g.writeObjectFieldStart("stream_batch_ids")
    m.streamBatchIds.toSeq.sortBy(_._1).foreach { case (k, v) => g.writeNumberField(k, v) }
    g.writeEndObject()
    g.writeNumberField("heads_base", m.headsBase)
    g.writeArrayFieldStart("heads_deltas")
    m.headsDeltas.foreach(g.writeNumber(_))
    g.writeEndArray()
  }

  private def renderDelta(d: Delta): String = generate(128 + 64 * d.streamHeads.size) { g =>
    g.writeNumberField("version", d.version)
    g.writeNumberField("base", d.base)
    writeEntries(g, d.watermarks, d.streamHeads)
  }

  /** Parse a checkpoint. Integral fields are read as exact Longs:
    * partition sequences / watermarks must stay exact past 2^53, where a
    * Double round-trip would silently round and corrupt watermark
    * clamping.
    */
  def parse(s: String): ManifestState = decode(s) match {
    case Right(st) => st
    case Left(d) => throw new IllegalArgumentException(
      s"version ${d.version} is a delta over ${d.base}: resolve it through load")
  }

  /** A checkpoint (Right) or a delta (Left, marked by its `base`). */
  private def decode(s: String): Either[Delta, ManifestState] = {
    val obj = mapper.readTree(s)
    def num(n: JsonNode): Long = {
      require(n != null && n.isNumber, s"not a number: $n")
      n.asLong
    }
    def str(n: JsonNode): String = {
      require(n != null && n.isTextual, s"not a string: $n")
      n.textValue
    }
    def fields(n: JsonNode): Seq[(String, JsonNode)] = {
      require(n != null && n.isObject, s"not an object: $n")
      n.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)
    }
    val version = num(obj.get("version"))
    val wm = fields(obj.get("watermarks")).map { case (k, v) => k.toInt -> num(v) }.toMap
    val heads = fields(obj.get("stream_heads")).map { case (k, v) =>
      k -> StreamHead(num(v.get(0)), str(v.get(1)), num(v.get(2)).toInt)
    }.toMap
    Option(obj.get("base")) match {
      case Some(base) => Left(Delta(version, num(base), wm, heads))
      case None =>
        val np = num(obj.get("num_partitions")).toInt
        val batches = Option(obj.get("stream_batch_ids"))
          .map(fields(_).map { case (k, v) => k -> num(v) }.toMap)
          .getOrElse(Map.empty[String, Long])
        val headsBase = Option(obj.get("heads_base")).map(num).getOrElse(0L)
        val headsDeltas = Option(obj.get("heads_deltas"))
          .map(_.elements().asScala.map(num).toSeq)
          .getOrElse(Nil)
        Right(ManifestState(version, np, wm, heads, batches, headsBase, headsDeltas))
    }
  }
}
