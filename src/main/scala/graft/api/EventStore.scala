package graft.api

import java.util.UUID

import graft.core._
import graft.storage.{HeadProbe, Manifest, ManifestState, StreamHead}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scan result: up to `count` events plus a has-more flag
  * (`escan.rs:150-162`: fetch count+1, return count). Rows carry
  * [[graft.core.EventSchema.schema]].
  */
final case class ScanResult(events: Seq[Row], hasMore: Boolean)

/** Two data files of one partition whose sequence ranges partly overlap:
  * no writer produces them (a rollover's merged file holds its inputs'
  * ranges whole), so the store cannot tell which rows are the real ones
  * and refuses to open.
  */
final class OverlappingFilesException(val partition: Int, val first: String, val second: String)
  extends IllegalStateException(
    s"partition $partition: the sequence ranges of $first and $second partly overlap")

/** Spark-native event store with SierraDB's command semantics
  * (SURVEY.md §2.1): optimistic-concurrency appends, point lookups,
  * version/sequence range scans, head queries, subscriptions.
  *
  * Storage: a partitioned parquet event-log table
  * `<root>/events/partition_id=NN/part-....parquet`, each file sorted by
  * `partition_sequence` (so parquet row-group min/max stats and the
  * `event_id` bloom filter play the role of the reference's per-segment
  * MPHF indexes — SURVEY §4), plus a commit manifest whose
  * per-partition watermark bounds reader visibility (snapshot
  * isolation; `docs/Watermarks.md` semantics). Two paths share that
  * layout:
  *
  *   - the COMMAND path runs no Spark job and lists no directory.
  *     EAPPEND/EMAPPEND write one file per touched partition from the
  *     driver (`writeRows`) and commit a manifest delta of what they
  *     changed. EGET, EGET TRANSACTION, ESCAN and EPSCAN take the
  *     target partition's files from the snapshot's file index, read
  *     them through footer-pruned row groups
  *     ([[graft.storage.HeadProbe.scan]]) clamped to the snapshot's
  *     watermark, and sort and limit on the driver;
  *   - the ANALYTICS path is [[events]], a watermark-clamped Spark scan
  *     of the whole log, used by the bulk operators and as the
  *     reference the command reads are tested against.
  *
  * Scale notes (100 TB): command reads touch one partition directory
  * and, after pruning, a row group or two; bulk reads are
  * partition-parallel scans; bulk ingest assigns gapless sequences
  * with one shuffle (window over partition_id) — the per-partition
  * serialization the reference enforces with one writer thread per
  * bucket (`writer_thread_pool.rs:292-407`) is here enforced by the
  * shuffle placing each partition_id in exactly one task.
  */
final class EventStore private (
    val spark: SparkSession,
    val root: String,
    val numPartitions: Int,
    initial: ManifestState,
    initialChain: Int,
    strictVersioning: Boolean,
    maxInlineHeads: Int) {

  import spark.implicits._
  import EventStore.{DataFile, FileStats, HeadLayers, Snapshot}

  private val eventsDir = s"$root/events"
  private val lock = new Object

  /** What readers see, published by one volatile write: the committed
    * manifest state with the data files and head layers it covers. The
    * file index is filled by [[recoverOrphans]] at open.
    */
  @volatile private var snap =
    Snapshot(initial, Map.empty, initialChain, new HeadLayers(root, initial))

  private def state: ManifestState = snap.state

  def manifest: ManifestState = state

  // ---------------------------------------------------------------- writes

  /** EAPPEND (`eappend.rs:179-255`): single-event optimistic append. */
  def append(input: EventInput, partitionKey: Option[UUID] = None): Either[String, AppendResult] =
    mappend(
      partitionKey.getOrElse(Ids.partitionKeyForStream(input.streamId)),
      Seq(input)).map(_.events.head)

  /** EMAPPEND (`emappend.rs`, `writer_thread_pool.rs:795-850`): atomic
    * multi-event, multi-stream append within ONE partition. All-or-
    * nothing; later events in the batch validate against versions
    * produced by earlier events in the same batch (intra-batch
    * increments), not just stored state.
    */
  def mappend(partitionKey: UUID, inputs: Seq[EventInput]): Either[String, MultiAppendResult] = {
    if (inputs.isEmpty) return Left("ERR no events")
    val t0 = System.nanoTime()
    val pHash = Ids.partitionHash(partitionKey)
    for (in <- inputs)
      check(in, pHash, "transaction's").left.foreach(e => return Left(e))
    lock.synchronized {
      val batch = new Batch
      val txId = Ids.withSingleEventFlag(
        UUID.randomUUID(), flag = inputs.lengthCompare(1) == 0)
      val results = inputs.map(in => batch.stage(in, partitionKey, txId) match {
        case Left(e)  => return Left(e)
        case Right(r) => r
      })
      batch.commit(t0)
      Right(MultiAppendResult(partitionKey.toString, results.head.partitionId,
        results.head.partitionSequence, results.last.partitionSequence, results))
    }
  }

  /** Group-commit append (the reference syncs batched writes on
    * bytes/events/interval thresholds — `writer_thread_pool.rs:684-696`;
    * here the caller batches). Each input routes by its own stream id
    * and is its own single-event transaction; validation failures are
    * reported per event while accepted events commit atomically in ONE
    * parquet write + ONE manifest commit. Versions validate against
    * stored state plus earlier accepted events in the batch, like
    * EMAPPEND's intra-batch rule.
    */
  def appendMany(inputs: Seq[EventInput]): Seq[Either[String, AppendResult]] = {
    val t0 = System.nanoTime()
    lock.synchronized {
      val batch = new Batch
      val results = inputs.map { in =>
        val pk = Ids.partitionKeyForStream(in.streamId)
        check(in, Ids.partitionHash(pk), "stream's").flatMap(_ =>
          batch.stage(in, pk, Ids.withSingleEventFlag(UUID.randomUUID(), flag = true)))
      }
      batch.commit(t0)
      results
    }
  }

  /** The checks an event passes before it is staged, whatever the
    * store holds: a valid stream id, an expected version strict mode
    * allows, and an event id carrying the partition hash of its key
    * (`whose` names that key in the error).
    */
  private def check(in: EventInput, pHash: Int, whose: String): Either[String, Unit] =
    StreamId.validate(in.streamId).left.map("ERR " + _).flatMap { _ =>
      if (strictVersioning && !in.expectedVersion.isStrictAllowed)
        Left("ERR strict versioning requires empty or exact expected version")
      else if (in.eventId.exists(id => !Ids.validateEventId(id, pHash)))
        Left(s"ERR event id does not carry the $whose partition hash")
      else Right(())
    }

  /** One append being staged under the write lock: its rows, and the
    * sequence of its last row per partition and its head per
    * (partition key, stream). Each staged event validates and numbers
    * against the committed state plus the events staged before it.
    */
  private final class Batch {
    private val nowMs = System.currentTimeMillis()
    private val seqs = collection.mutable.Map.empty[Int, Long]
    private val heads = collection.mutable.Map.empty[String, StreamHead]
    private val rows = collection.mutable.ArrayBuffer.empty[Event]

    /** Stage `in` under partition key `pk` in transaction `txId`, or
      * report its version conflict and stage nothing.
      */
    def stage(in: EventInput, pk: UUID, txId: => UUID): Either[String, AppendResult] = {
      val key = EventStore.headKey(pk.toString, in.streamId)
      val current = CurrentVersion.fromOption(
        heads.get(key).orElse(lookupHead(pk.toString, in.streamId)).map(_.version))
      in.expectedVersion.gapFrom(current) match {
        case VersionGap.None =>
          val pHash = Ids.partitionHash(pk)
          val pid = Ids.partitionIdFor(pHash, numPartitions)
          val seq = seqs.getOrElse(pid, state.watermark(pid)) + 1
          val tsMs = in.timestampMs.getOrElse(nowMs)
          val ev = Event(
            event_id = in.eventId.getOrElse(Ids.newEventId(pHash)).toString,
            transaction_id = txId.toString,
            partition_key = pk.toString,
            partition_id = pid,
            partition_sequence = seq,
            stream_version = current.next,
            stream_id = in.streamId,
            event_name = in.eventName,
            timestamp_ns = math.multiplyExact(tsMs, 1000000L),
            metadata = in.metadata,
            payload = in.payload)
          seqs(pid) = seq
          heads(key) = StreamHead(ev.stream_version, ev.partition_key, pid)
          rows += ev
          Right(AppendResult(ev.event_id, ev.partition_key, pid, seq, ev.stream_version, tsMs))
        case gap => Left(s"ERR version conflict on '${in.streamId}': $gap")
      }
    }

    /** Write the staged rows and commit them with their watermarks and
      * heads; `t0` is when the append began, for the layer timers.
      */
    def commit(t0: Long): Unit = if (rows.nonEmpty) {
      val t1 = System.nanoTime()
      val written = writeRows(rows.toSeq)
      val t2 = System.nanoTime()
      commitAppend(seqs.toMap, heads.toMap, written)
      appendLayers.record(t1 - t0, t2 - t1, System.nanoTime() - t2)
      written.keys.foreach(requestRollover)
    }
  }

  // ------------------------------------------------------------- rollover

  /* Segment rollover (`writer_thread_pool.rs:698-793`: the reference
    * seals a segment at a size threshold and indexes it in a background
    * pool). Here every append leaves one small file, and once a
    * partition holds a run of 16 sequence-adjacent files of one size
    * tier, the shared worker merges the run into one file, outside the
    * write lock. Only an append requests a merge. Under the lock the
    * merged file replaces the run in the file index, matched by path,
    * and the run's files are deleted; no manifest version is committed,
    * because the manifest does not list files. A merged file covers
    * exactly the sequence range of its inputs, which is how
    * [[recoverOrphans]] tells them apart after a crash.
    */

  /** partitions with a merge queued or running (under `lock`, which the
    * worker notifies when a merge ends)
    */
  private val rolling = collection.mutable.Set.empty[Int]
  /** merges this handle has queued on the worker (under `lock`) */
  private[api] var rolloversQueued = 0L
  private val rolloverTimes = new EventStore.LayerTimes(1024, 1)
  private val rollovers = new java.util.concurrent.atomic.AtomicLong
  private val rolledFiles = new java.util.concurrent.atomic.AtomicLong
  private val rolloverFailures = new java.util.concurrent.atomic.AtomicLong

  /** Under the lock, after a commit or a swap: queue partition `pid` on
    * the worker if its files hold a full run and no merge of it is
    * queued.
    */
  private def requestRollover(pid: Int): Unit =
    if (!rolling(pid) && EventStore.fullRuns(snap.files.getOrElse(pid, Vector.empty)).nonEmpty) {
      rolling += pid
      rolloversQueued += 1
      EventStore.rolloverWorker.execute(() => rollOver(pid))
    }

  /** On the worker: merge `pid`'s oldest full run; after a swap, queue
    * the partition again if a run is left (the merged file may have
    * filled the next tier's). The run is picked from the published
    * snapshot without the lock: the swap checks it again under the lock.
    */
  private def rollOver(pid: Int): Unit = {
    var swapped = false
    try {
      val run = EventStore.fullRuns(snap.files.getOrElse(pid, Vector.empty)).nextOption()
      swapped = run.exists(merge(pid, _))
    } finally lock.synchronized {
      rolling -= pid
      if (swapped) requestRollover(pid)
      lock.notifyAll()
    }
  }

  /** Merge `run` into one hidden file, then swap it in under the lock.
    * The swap is dropped, and the hidden file deleted, when some file of
    * the run has left the index (`compact()`), the partition directory
    * is gone or a newer handle owns the root; a write that fails in that
    * state is not counted as a failure.
    * Returns whether the swap happened.
    */
  private def merge(pid: Int, run: Vector[DataFile]): Boolean = {
    if (!EventStore.startMerge(this)) return false
    val t0 = System.nanoTime()
    val dir = java.nio.file.Paths.get(eventsDir, s"partition_id=$pid")
    def current = {
      val indexed = snap.files.getOrElse(pid, Vector.empty).map(_.file.path).toSet
      run.forall(f => indexed(f.file.path)) && java.nio.file.Files.isDirectory(dir)
    }
    try {
      val tmp =
        try writeHidden(dir, run.map(_.stats.rows).sum)(put =>
          HeadProbe.scan(run.map(_.file), Nil) { g => put(EventStore.copyGroup(g)); true })
        catch {
          case _: Exception =>
            if (lock.synchronized(current)) rolloverFailures.incrementAndGet()
            return false
        }
      lock.synchronized {
        if (!current) {
          java.nio.file.Files.deleteIfExists(tmp)
          false
        } else {
          val merged = new DataFile(new HeadProbe.File(EventStore.publish(tmp).toString),
            FileStats(run.head.stats.minSeq, run.last.stats.maxSeq,
              run.map(_.stats.minVersion).min, run.map(_.stats.rows).sum))
          val inputs = run.map(_.file.path).toSet
          val files = snap.files(pid)
          val at = files.indexWhere(f => inputs(f.file.path))
          snap = snap.copy(files = snap.files.updated(pid,
            files.filterNot(f => inputs(f.file.path)).patch(at, Seq(merged), 0)))
          run.foreach(f => java.nio.file.Files.deleteIfExists(f.path))
          rollovers.incrementAndGet()
          rolledFiles.addAndGet(run.size.toLong)
          rolloverTimes.record(System.nanoTime() - t0)
          true
        }
      }
    } finally EventStore.endMerge(root)
  }

  /** Wait until no merge of this handle is queued or running or, with
    * `all` false, until every run that was full at the call has been
    * merged or its partition's merges have stopped (a merge that failed
    * or did not swap): runs that fill later are not waited for.
    */
  private[api] def awaitRollover(all: Boolean = true): Unit = lock.synchronized {
    val pending = rolling.toSeq.flatMap(pid =>
      EventStore.fullRuns(snap.files.getOrElse(pid, Vector.empty)).flatten.map(f => pid -> f.file.path))
    def merging = pending.exists { case (pid, path) =>
      rolling(pid) && snap.files.getOrElse(pid, Vector.empty).exists(_.file.path == path)
    }
    while (if (all) rolling.nonEmpty else merging) lock.wait()
  }

  /** Compaction: rewrite each partition directory into one
    * sequence-sorted file so point lookups and range scans touch few,
    * stat-tight row groups. Unlike rollover, which merges small runs
    * in the background, this rewrites the whole log through Spark under
    * the write lock with a directory swap, and it never requests a
    * rollover; a merge running meanwhile finds its inputs gone and
    * drops its file.
    *
    * Subscription checkpoints SURVIVE compaction: the streaming source
    * tracks per-partition sequences, not file paths
    * ([[graft.streaming.GraftEventSource]]), and compaction rewrites
    * files without renumbering sequences. A subscription resumed from a
    * pre-compaction checkpoint re-plans its next (start, end] range
    * over the rewritten files — no duplicates, no gaps. A query whose
    * in-flight batch races the directory swap lists the partition again
    * and reads on ([[graft.streaming.GraftPartitionReader]]).
    */
  def compact(): Unit = lock.synchronized {
    if (state.watermarks.isEmpty) return
    // one file per partition: size its bloom filters to the largest
    // partition's rows, or parquet allocates its 1 MB maximum per column
    val ndv = (state.watermarks.values.max + 1).max(1L)
    val compacted = spark.read
      .schema(EventSchema.schema)
      .option("basePath", eventsDir)
      .parquet(eventsDir)
      .repartition(col("partition_id"))
      .sortWithinPartitions(col("partition_sequence"))
    val tmp = s"$root/${EventStore.CompactTmp}"
    writeEvents(compacted, "overwrite", tmp, Some(ndv))
    val ev = java.nio.file.Paths.get(eventsDir)
    val old = java.nio.file.Paths.get(s"$root/${EventStore.PreCompact}")
    java.nio.file.Files.move(ev, old)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), ev)
    Fs.deleteRecursively(old.toFile)
    commitState(state.copy(version = state.version + 1), listIndex())
    // compaction also folds the head LSM into a fresh base table
    foldHeads()
  }

  /** Spark's writer of event files (the layout README "Storage model"
    * sets out): one directory per `partition_id`, zstd, bloom filters on
    * `event_id` and `stream_id`. The filters are sized to `ndv` values
    * when the caller knows its rows per file; else each is the smallest
    * of parquet's adaptive candidates (1 MB halving down to 1 KB) that
    * holds the values its file got, not the 1 MB maximum.
    */
  private def writeEvents(df: DataFrame, mode: String, dir: String, ndv: Option[Long]): Unit = {
    val blooms = Seq("event_id", "stream_id").flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.candidates.number#$c" -> EventStore.BloomCandidates.toString) ++
      ndv.map(n => s"parquet.bloom.filter.expected.ndv#$c" -> n.toString))
    df.write
      .mode(mode)
      .partitionBy("partition_id")
      .option("compression", "zstd")
      .option("parquet.bloom.filter.adaptive.enabled", "true")
      .options(blooms.toMap)
      .parquet(dir)
  }

  /** Bulk ingest — the 100 TB path. Routes rows to partitions by
    * stream-id hash, assigns gapless partition sequences and stream
    * versions with window functions (ONE shuffle on partition_id; the
    * stream_version window reuses it where stream→partition routing
    * allows, otherwise adds a shuffle on stream_id), and appends to the
    * log with a single manifest commit.
    *
    * @param df       columns: stream_id, event_name, payload, metadata,
    *                 timestamp_ms (missing optional columns defaulted)
    * @param orderCol arrival-order column defining intra-batch order
    *                 (must be unique per stream for deterministic seqs)
    * @param batchTag streaming-ingest identity (checkpoint, batchId):
    *                 recorded in the SAME manifest commit as the
    *                 watermarks/heads so idempotence-marker and data
    *                 visibility can never diverge across a crash
    */
  def ingest(
      df: DataFrame,
      orderCol: String,
      batchTag: Option[(String, Long)] = None): Long = lock.synchronized {
    val np = numPartitions
    // one SHA-1 per row, not three: derive (partition_key, hash, id)
    // together
    val routeOfStream = udf { sid: String =>
      val pk = Ids.partitionKeyForStream(sid)
      val h = Ids.partitionHash(pk)
      (pk.toString, h, Ids.partitionIdFor(h, np))
    }
    val newId = udf((pHash: Int, tsMs: Long, r1: Int, r2: Long) =>
      Ids.uuidV7WithPartitionHash(pHash, tsMs, r1 & 0xfff, r2 & ((1L << 46) - 1)).toString)

    val base = df
      .withColumn("timestamp_ms",
        if (df.columns.contains("timestamp_ms")) col("timestamp_ms")
        else lit(System.currentTimeMillis()))
      .withColumn("metadata",
        if (df.columns.contains("metadata")) col("metadata") else lit(Array.emptyByteArray))
      .withColumn("payload",
        if (df.columns.contains("payload")) col("payload") else lit(Array.emptyByteArray))
      .withColumn("route", routeOfStream($"stream_id"))
      .withColumn("partition_key", $"route._1")
      .withColumn("p_hash", $"route._2")
      .withColumn("partition_id", $"route._3")
      .drop("route")

    val wmMap = state.watermarks
    // head state is keyed by (partition_key, stream); ingest derives
    // default keys, so join the bases on both columns — PLUS the
    // derived partition_id (r19): a stream lives in exactly one
    // partition, so adding partition_id to the join keys changes no
    // matches. While the head side fits the broadcast threshold (the
    // common case, and everything the bench exercises) AQE plans a
    // broadcast join and the event payload crosses ONE exchange on
    // both head paths (IngestPlanSpec). A DISTRIBUTED head join (heads
    // spilled to parquet and too big to broadcast) does NOT reuse the
    // hash(partition_id) exchange below: co-partitioning requires all
    // three join keys, so the payload is shuffled on them and then
    // again on partition_id for the windows — three payload exchanges.
    val wmDf = broadcast(wmMap.toSeq.toDF("partition_id", "wm_base"))
    val pidOfKey = udf((pk: String) =>
      Ids.partitionIdFor(Ids.partitionHash(java.util.UUID.fromString(pk)), np))
    val headsView = headsDf().select(
      $"stream_id", $"partition_key", $"version".as("head_base"))
      .withColumn("partition_id", pidOfKey($"partition_key"))
    val headDf =
      if (!hasParquetHeadLayers(state)) broadcast(headsView) else headsView

    val wp = Window.partitionBy($"partition_id").orderBy(col(orderCol))
    // stream-version window: partitioned by (partition_id, stream_id),
    // NOT bare stream_id. Semantically identical (every stream routes
    // to exactly one partition_id, so each window partition holds the
    // same rows either way), but the widened spec is satisfied by the
    // hash(partition_id) distribution the sequence window just
    // established — ClusteredDistribution(partition_id, stream_id) is
    // met by HashPartitioning(partition_id) — so this window plans as
    // a LOCAL re-sort, not a second full shuffle of the event payload.
    // Combined with the write below inheriting the same partitioning,
    // bulk ingest moves the payload through ONE exchange instead of
    // the pre-r18 three (stream window + sequence window + an explicit
    // repartition).
    val ws = Window.partitionBy($"partition_id", $"stream_id")
      .orderBy(col(orderCol))
    // bulk ingest is semantically MANY single-event transactions, so
    // each row gets its own transaction id with the single-event flag
    // SET (read_transaction's short-circuit depends on the flag being
    // deliberate, not an accident of random variant bits). Built from
    // rand() inputs, NOT UUID.randomUUID(): SecureRandom serializes on
    // a lock across all 32 tasks at millions of rows per batch.
    val newTxId = udf((r1: Long, r2: Long) =>
      Ids.withSingleEventFlag(new UUID(r1, r2), flag = true).toString)

    val assigned = base
      // THE one payload exchange, established before the joins: the
      // broadcast wm/head joins preserve it, both windows' clustering
      // is satisfied by it (subset rule), and the partitioned write
      // inherits it (a distributed head join does not — see above)
      .repartition($"partition_id")
      .join(wmDf, Seq("partition_id"), "left")
      .join(headDf, Seq("partition_id", "stream_id", "partition_key"),
        "left")
      .withColumn("partition_sequence",
        row_number().over(wp).cast("long") + coalesce($"wm_base", lit(-1L)))
      .withColumn("stream_version",
        row_number().over(ws).cast("long") + coalesce($"head_base", lit(-1L)))
      .withColumn("event_id", newId(
        $"p_hash", $"timestamp_ms",
        (rand() * 4096).cast("int"), (rand() * 7.0368744177664e13).cast("long")))
      .withColumn("transaction_id", newTxId(
        (rand() * Long.MaxValue).cast("long"), (rand() * Long.MaxValue).cast("long")))
      .withColumn("timestamp_ns", $"timestamp_ms" * lit(1000000L))
      .select(EventSchema.columnNames.map(col): _*)

    def paths(ix: Map[Int, Vector[DataFile]]) = ix.values.flatten.map(_.file.path).toSet
    val preFiles = paths(listIndex())
    val sorted = assigned
      // each partition_id already lives in exactly one task: both
      // windows above run under the ONE hash(partition_id) exchange
      // (see `ws`), and nothing after them re-partitions — so the
      // partitioned write emits one file per partition per commit (the
      // reference's segment shape) with no extra repartition. The sort
      // leads with partition_id so the writer's required ordering
      // (partition columns first) is satisfied and rows land
      // sequence-sorted within each file without a writer-side re-sort.
      .sortWithinPartitions($"partition_id", $"partition_sequence")
    writeEvents(sorted, "append", eventsDir, None)

    // head/watermark roll-up: ONE columnar scan over just the files
    // this commit wrote (4 columns, stats-friendly) — cheaper than
    // caching and re-walking the whole assignment plan
    val index = listIndex()
    val newFiles = (paths(index) -- preFiles).toSeq
    val rollup = spark.read
      .schema(EventSchema.schema)
      .option("basePath", eventsDir)
      .parquet(newFiles: _*)
      .groupBy($"stream_id", $"partition_key", $"partition_id")
      .agg(max($"stream_version").as("version"), max($"partition_sequence").as("ps"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wmStats = rollup.groupBy($"partition_id")
      .agg(max($"ps").as("wm"), count(lit(1)).as("nheads"))
      .collect()
    val newWm = wmStats.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = newWm.map { case (k, nw) => nw - wmMap.getOrElse(k, -1L) }.sum
    val headCount = wmStats.map(_.getLong(2)).sum
    val next = state.copy(version = state.version + 1, watermarks = wmMap ++ newWm,
      streamBatchIds = batchTag.fold(state.streamBatchIds)(state.streamBatchIds + _))

    if (state.streamHeads.size + headCount <= maxInlineHeads) {
      // small batch: heads stay in the inline overlay (no extra layer)
      val newHeads = rollup.collect().map(headEntry).toMap
      rollup.unpersist()
      commitState(next.copy(streamHeads = state.streamHeads ++ newHeads), index)
    } else {
      // big batch (the 100 TB path): spill batch heads ∪ inline overlay
      // to ONE parquet delta, straight from the executors — the driver
      // never holds the head set
      val batchDf = rollup
        .select($"stream_id", $"partition_key", $"partition_id", $"version")
      val deltaDf =
        if (state.streamHeads.isEmpty) batchDf
        else resolveLayers(Seq(inlineHeadsDf(state.streamHeads) -> 0L, batchDf -> 1L))
      spillHeads(next, deltaDf, state.streamHeads.size + headCount, index)
      rollup.unpersist()
      maybeFoldHeads()
    }
    n
  }

  /** Crash recovery (the parquet analogue of the reference's segment
    * reconciliation on open, `database.rs:463-700`): a crash inside an
    * append leaves either a hidden in-flight file (died before its
    * rename) or a published file whose sequences sit above the
    * committed watermark (died before the manifest commit). Both are
    * invisible to watermark-clamped reads, but a LATER commit would
    * advance the watermark over the second kind and surface duplicates
    * — so delete both before accepting any new writes. Each file's
    * lowest sequence comes from its footer statistics (no Spark job).
    * A crash inside a rollover swap leaves its merged file next to all
    * or some of its inputs; the merged file's sequence range holds each
    * input's, so every file whose range lies inside another file's is
    * deleted. Nothing writes files whose ranges partly overlap: finding
    * two fails the open with [[OverlappingFilesException]].
    * The surviving files become the snapshot's file index. Runs once
    * per open.
    */
  private[api] def recoverOrphans(): Unit = lock.synchronized {
    partitionDirs().foreach { case (_, dir) =>
      Fs.list(dir).filter(_.getFileName.toString.startsWith(EventStore.InflightPrefix))
        .foreach(java.nio.file.Files.deleteIfExists)
    }
    val files = listIndex().map { case (pid, fs) =>
      val (orphans, committed) = fs.partition(_.stats.minSeq > state.watermark(pid))
      orphans.foreach(f => java.nio.file.Files.deleteIfExists(f.path))
      // widest first among equal minimums: a merged file before its inputs
      val bySeq = committed.sortBy(f => (f.stats.minSeq, -f.stats.maxSeq, f.file.path))
      val kept = bySeq.foldLeft(Vector.empty[DataFile]) { (kept, f) =>
        kept.lastOption match {
          case Some(c) if f.stats.maxSeq <= c.stats.maxSeq =>
            java.nio.file.Files.deleteIfExists(f.path); kept
          case Some(c) if f.stats.minSeq <= c.stats.maxSeq =>
            throw new OverlappingFilesException(pid, c.file.path, f.file.path)
          case _ => kept :+ f
        }
      }
      pid -> kept
    }
    snap = snap.copy(files = files)
  }

  /** The `partition_id=N` directories of the log, with their N. */
  private def partitionDirs(): Seq[(Int, java.nio.file.Path)] =
    Fs.list(java.nio.file.Paths.get(eventsDir))
      .filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("partition_id="))
      .map(p => p.getFileName.toString.stripPrefix("partition_id=").toInt -> p)

  /** Every visible data file of the log by partition, from one listing
    * — the file index [[ingest]] and [[compact]] publish. A file the
    * current index already holds keeps its object (and the footer that
    * object read); the others' stats are read from their footers when
    * first needed.
    */
  private def listIndex(): Map[Int, Vector[DataFile]] = {
    val known = snap.files.valuesIterator.flatten.map(f => f.file.path -> f).toMap
    partitionDirs().map { case (pid, dir) =>
      pid -> HeadProbe.listFiles(dir.toString)
        .map(f => known.getOrElse(f.path, DataFile.listed(f))).toVector
    }.toMap
  }

  // ------------------------------------------------------- head-state (LSM)

  /* The reference keeps per-partition live stream indexes in memory
    * (`writer_thread_pool.rs:188-267`); at billions of streams that is
    * a driver OOM, so heads are LSM-layered (see ManifestState): a
    * bounded inline overlay in the manifest JSON, spilled to versioned
    * parquet deltas under `<root>/_heads/`, folded into a base table.
    * Newer layer wins per (partition_key, stream_id).
    */
  private def readHeads(dir: String): DataFrame =
    spark.read.schema(EventStore.headsParquetSchema).parquet(dir)

  private def inlineHeadsDf(heads: Map[String, StreamHead]): DataFrame =
    heads.toSeq.map { case (k, h) =>
      (EventStore.headKeyStream(k), h.partitionKey, h.partitionId, h.version)
    }.toDF("stream_id", "partition_key", "partition_id", "version")

  /** a collected (stream_id, partition_key, partition_id, version) row
    * as its inline head entry
    */
  private def headEntry(r: Row): (String, StreamHead) =
    EventStore.headKey(r.getString(1), r.getString(0)) ->
      StreamHead(r.getLong(3), r.getString(1), r.getInt(2))

  /** Every head layer of `snap` oldest-first as (df, priority): the
    * parquet base and deltas, then the inline overlay (kept when empty
    * if it is the only layer). Always derive from ONE captured
    * snapshot: re-reading live state mid-operation races a concurrent
    * fold (layers can vanish between an emptiness check and the union).
    */
  private def headLayers(snap: ManifestState): Seq[(DataFrame, Long)] = {
    val parquet = EventStore.headLayerDirs(root, snap).map { case (d, p) => readHeads(d) -> p }
    parquet ++
      (if (snap.streamHeads.nonEmpty || parquet.isEmpty)
        Seq(inlineHeadsDf(snap.streamHeads) -> Long.MaxValue)
      else Nil)
  }

  private def hasParquetHeadLayers(snap: ManifestState): Boolean =
    snap.headsBase > 0 || snap.headsDeltas.nonEmpty

  /** latest-wins merge of head layers (higher priority wins per key) */
  private def resolveLayers(layers: Seq[(DataFrame, Long)]): DataFrame =
    if (layers.sizeIs == 1) layers.head._1
    else layers.map { case (df, pri) => df.withColumn("pri", lit(pri)) }
      .reduce(_ unionByName _)
      .groupBy($"stream_id", $"partition_key")
      .agg(max_by(struct($"partition_id", $"version"), $"pri").as("h"))
      .select($"stream_id", $"partition_key",
        $"h.partition_id".as("partition_id"), $"h.version".as("version"))

  /** All current stream heads as a DataFrame — the scalable view
    * (columns: stream_id, partition_key, partition_id, version).
    */
  def headsDf(): DataFrame = resolveLayers(headLayers(state))

  /** The head of (pk, sid): the inline overlay's entry, else the layered
    * entry for `pk` among the stream's layered heads, which the
    * snapshot's [[HeadLayers]] probe once per stream id — no Spark job.
    */
  private def lookupHead(pk: String, sid: String): Option[StreamHead] = {
    val s = snap
    s.state.streamHeads.get(EventStore.headKey(pk, sid))
      .orElse(s.heads.of(sid).find(_.partitionKey == pk))
  }

  /** Commit an append's watermark/head updates and publish its
    * `written` files to the file index in the same snapshot swap. An
    * inline commit is a manifest delta of just these updates
    * ([[Manifest.commitDelta]]); when the inline overlay outgrows
    * maxInlineHeads it spills to a parquet delta under a full
    * checkpoint. If the commit fails, the written files are deleted
    * before the failure propagates: left in place they would sit above
    * the watermark, and the next append would reuse their sequences.
    */
  private def commitAppend(newWm: Map[Int, Long],
      newHeads: Map[String, StreamHead], written: Map[Int, DataFile]): Unit = {
    val s = snap
    val files = s.files ++ written.map { case (pid, f) =>
      pid -> (s.files.getOrElse(pid, Vector.empty) :+ f)
    }
    val inline = s.state.streamHeads ++ newHeads
    val next = s.state.copy(
      version = s.state.version + 1, watermarks = s.state.watermarks ++ newWm)
    val spill = inline.size > maxInlineHeads
    try {
      if (!spill) {
        val withHeads = next.copy(streamHeads = inline)
        val chain = Manifest.commitDelta(root, withHeads, s.chain, newWm, newHeads)
        snap = s.copy(state = withHeads, files = files, chain = chain)
      } else spillHeads(next, inlineHeadsDf(inline), inline.size, files)
    } catch {
      case e: Throwable =>
        written.values.foreach(f =>
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f.file.path)))
        throw e
    }
    if (spill) maybeFoldHeads()
  }

  /** Head spill: write `heads` as the delta layer of `next`'s version
    * and commit `next` with that layer and an empty inline overlay, as
    * a full checkpoint publishing `files`.
    */
  private def spillHeads(next: ManifestState, heads: DataFrame, approxRows: Long,
      files: Map[Int, Vector[DataFile]]): Unit = {
    writeHeadsParquet(heads, EventStore.headsDeltaDir(root, next.version), approxRows)
    commitState(next.copy(streamHeads = Map.empty,
      headsDeltas = next.headsDeltas :+ next.version), files)
  }

  private val MaxHeadDeltas = 8

  private def maybeFoldHeads(): Unit =
    if (state.headsDeltas.sizeIs > MaxHeadDeltas) foldHeads()

  /** Fold base + deltas + inline into one layer (the LSM compaction).
    * If the merged head set fits the inline budget it folds back INTO
    * the manifest — a small store keeps O(1) map lookups instead of
    * being permanently demoted to parquet reads. Old layer directories
    * become unreferenced and are removed on next open.
    */
  private[api] def foldHeads(): Unit = lock.synchronized {
    if (!hasParquetHeadLayers(state)) return // inline-only: nothing to fold
    val resolved = resolveLayers(headLayers(state))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val v = state.version + 1
      val total = resolved.count()
      if (total <= maxInlineHeads) {
        val inline = resolved.collect().map(headEntry).toMap
        commitState(state.copy(
          version = v, streamHeads = inline, headsBase = 0L, headsDeltas = Nil))
      } else {
        writeHeadsParquet(resolved, EventStore.headsBaseDir(root, v), approxRows = total)
        commitState(state.copy(
          version = v, streamHeads = Map.empty, headsBase = v, headsDeltas = Nil))
      }
    } finally resolved.unpersist()
  }

  /** Range-sorted, bloom-filtered layout: a (stream_id, partition_key)
    * point lookup prunes to one file / few row groups by min-max stats.
    * File count scales with the layer's ROW count (~500k entries per
    * file), not the session's shuffle parallelism — a 64-entry delta in
    * 32 shard files would cost a point probe 32 footer reads for
    * nothing, while a folded billion-head base still shards wide.
    */
  private def writeHeadsParquet(df: DataFrame, dir: String,
      approxRows: Long): Unit = {
    val shards = math.max(1L, math.min(2048L,
      (approxRows + 499999L) / 500000L)).toInt
    df.select($"stream_id", $"partition_key", $"partition_id", $"version")
      .repartitionByRange(shards, $"stream_id", $"partition_key")
      .sortWithinPartitions($"stream_id", $"partition_key")
      .write.mode("overwrite")
      .option("compression", "zstd")
      .option("parquet.bloom.filter.enabled#stream_id", "true")
      // size the bitset to one shard's entries: unsized, parquet
      // allocates its 1 MB maximum even for a 64-entry delta
      .option("parquet.bloom.filter.expected.ndv#stream_id",
        math.max(1L, (approxRows + shards - 1) / shards).toString)
      .parquet(dir)
  }

  /** Delete head-layer directories no manifest references (crash
    * between a layer write and its manifest commit, or layers folded
    * away). Runs once per open.
    */
  private[api] def recoverOrphanHeads(): Unit = lock.synchronized {
    val keep = EventStore.headLayerDirs(root, state)
      .map(d => java.nio.file.Paths.get(d._1).getFileName).toSet
    Fs.list(java.nio.file.Paths.get(root, "_heads"))
      .filterNot(p => keep.contains(p.getFileName))
      .foreach(p => Fs.deleteRecursively(p.toFile))
  }

  /** Streaming ingest: continuous EAPPEND through Structured Streaming.
    * Each micro-batch rides the bulk `ingest` path (exactly-once per
    * batch via the sink checkpoint: a batch that fails before the
    * manifest commit replays; sequences stay gapless because
    * assignment is deterministic given the pre-batch manifest).
    */
  def ingestStream(
      stream: DataFrame,
      orderCol: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // idempotence across replays: a crash after the manifest commit
        // but before the sink checkpoint commit replays this batchId —
        // the manifest remembers the last applied id per checkpoint.
        // The marker is written by ingest() in the SAME commit as the
        // watermarks: a crash can never leave the data committed but
        // the marker missing (which would re-ingest on replay).
        lock.synchronized {
          if (state.streamBatchIds.getOrElse(checkpoint, -1L) < batchId &&
              !batch.isEmpty) {
            ingest(batch, orderCol, Some(checkpoint -> batchId))
          }
        }
        ()
      }
      .start()

  // ----------------------------------------------------------------- reads

  /** Watermark-clamped snapshot of the event log (every read goes
    * through this — the visibility rule of `read.rs:460-489`).
    *
    * It scans the directory, not the file index, so it sees a rollover
    * swap the way it sees `compact()`'s: a job whose listing raced a
    * swap may fail on a file deleted after it was listed, or, if it
    * listed the instant between the merged file's rename and its
    * inputs' deletion, count their rows twice. It first waits until the
    * runs that were full when it was called are merged (not for runs
    * that fill later), so a caller that has stopped appending scans a
    * directory that holds still unless a merge filled the next tier.
    * The command reads and the streaming source are not exposed; no
    * server command uses this.
    */
  def events(): DataFrame = {
    awaitRollover(all = false)
    val snap = state
    if (snap.watermarks.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], EventSchema.schema)
    val df = spark.read
      .schema(EventSchema.schema)
      .option("basePath", eventsDir)
      .parquet(eventsDir)
    df.where(wmClamp(snap))
  }

  private def wmClamp(snap: ManifestState): Column = {
    // Two conjuncts: (a) a simple global bound that parquet can push
    // into row-group stats pruning on every scan shape, and (b) the
    // exact per-partition clamp — a CASE chain while small (folded to
    // a constant whenever the scan is pruned to one partition, e.g.
    // EGET/ESCAN), one map literal at high partition counts so the
    // plan stays O(1) nodes (`functions.keyedLookup`).
    val wms = snap.watermarks
    if (wms.isEmpty) lit(false)
    else {
      val globalMax = wms.values.max
      val wmExpr =
        graft.functions.functions.keyedLookup(wms, col("partition_id"), -1L)
      col("partition_sequence") <= globalMax && col("partition_sequence") <= wmExpr
    }
  }

  /** Run a command read against the current snapshot. Its files can
    * vanish under it only when [[compact]] swaps the log or a rollover
    * swaps a run for its merged file; the read is then retried once
    * under the write lock, which waits out the swap, against the
    * snapshot the swap published.
    */
  private def onSnapshot[A](read: Snapshot => A): A =
    try read(snap)
    catch {
      case _: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException =>
        lock.synchronized(read(snap))
    }

  /** Command-read core: the events of partition `pid`, as of snapshot
    * `s`, in `files` order, that satisfy `preds`, handed to `visit`
    * until it returns false. No Spark job and no listing: the files
    * come from the snapshot's index, and files and row groups are
    * pruned by footer statistics and bloom filters before a data page
    * is read ([[HeadProbe.scan]]). The watermark clamp is one more
    * predicate, so an in-flight append's file is never seen.
    */
  private def readPartition(s: Snapshot, pid: Int, files: Seq[DataFile],
      preds: Seq[HeadProbe.Pred])(visit: Row => Boolean): Unit = {
    val wm = s.state.watermark(pid)
    if (wm >= 0)
      HeadProbe.scan(files.map(_.file),
        HeadProbe.Between("partition_sequence", 0L, wm) +: preds)(
        g => visit(EventStore.eventRow(pid, g)))
  }

  /** The `limit` matching events with the smallest `key` column, in
    * ascending key order — the driver-side `ORDER BY key LIMIT n`,
    * holding at most `limit` rows however many match. Files are read in
    * order of their footer minimum of `key`, and reading stops once
    * `limit` rows are held and the next file's minimum is above all of
    * them: a stream spread over thousands of small files opens about
    * `limit` of them.
    */
  private def firstByKey(s: Snapshot, pid: Int,
      preds: Seq[HeadProbe.Pred], key: String, limit: Long): Seq[Row] = {
    val k = EventSchema.schema.fieldIndex(key)
    val heap = collection.mutable.PriorityQueue.empty[Row](
      Ordering.by((r: Row) => r.getLong(k)))
    val files = s.files.getOrElse(pid, Vector.empty).sortBy(_.minOf(key)).iterator
    var more = true
    while (more && files.hasNext) {
      val f = files.next()
      if (heap.size >= limit && f.minOf(key) > heap.head.getLong(k)) more = false
      else readPartition(s, pid, Seq(f), preds) { r =>
        heap.enqueue(r)
        if (heap.size > limit) heap.dequeue()
        true
      }
    }
    heap.dequeueAll.reverse
  }

  private def lookup(s: Snapshot, eventId: UUID): Option[Row] = {
    var hit: Option[Row] = None
    val pid = Ids.partitionIdForEventId(eventId, numPartitions)
    readPartition(s, pid, s.files.getOrElse(pid, Vector.empty),
        Seq(HeadProbe.Eq("event_id", eventId.toString))) { r =>
      hit = Some(r); false
    }
    hit
  }

  /** EGET (`eget.rs:26-65`): point lookup routed by the partition hash
    * embedded in the event UUID — ONE partition directory, then the
    * event_id bloom filter + row-group stats prune files.
    */
  def get(eventId: UUID): Option[Row] = onSnapshot(lookup(_, eventId))

  /** read_transaction (`database.rs:138-208`): all committed events of
    * the transaction containing `eventId`, from that event's offset
    * forward — passing the transaction's FIRST event id (the reference
    * caller's contract) returns the whole transaction. The stored
    * transaction id's single-event flag (`Ids.withSingleEventFlag`,
    * `id.rs` bit layout) short-circuits the second lookup for the
    * overwhelmingly common single-event case.
    */
  def readTransaction(eventId: UUID): Seq[Row] = onSnapshot { s =>
    lookup(s, eventId) match {
      case None => Nil
      case Some(r) =>
        val tx = r.getAs[String]("transaction_id")
        if (Ids.singleEventFlag(UUID.fromString(tx))) Seq(r)
        else firstByKey(s, r.getAs[Int]("partition_id"), Seq(
          HeadProbe.Eq("transaction_id", tx),
          HeadProbe.Between("partition_sequence",
            r.getAs[Long]("partition_sequence"), Long.MaxValue)),
          "partition_sequence", Long.MaxValue)
    }
  }

  /** ESCAN (`escan.rs`): stream scan by version range, ascending,
    * `count` events max, has_more from a count+1 probe. Default count
    * 100 (`escan.rs:138`); start/end inclusive.
    */
  def scan(
      streamId: String,
      startVersion: Option[Long] = None,
      endVersion: Option[Long] = None,
      count: Int = 100,
      partitionKey: Option[UUID] = None): ScanResult = {
    val pk = partitionKey.getOrElse(Ids.partitionKeyForStream(streamId))
    val pid = Ids.partitionIdFor(Ids.partitionHash(pk), numPartitions)
    // partition_key conjunct: versions are scoped per (pk, stream), so
    // a colliding key's same-named stream in this partition must not
    // interleave (its versions also start at 0)
    page(onSnapshot(firstByKey(_, pid, Seq(
      HeadProbe.Eq("stream_id", streamId),
      HeadProbe.Eq("partition_key", pk.toString),
      HeadProbe.Between("stream_version",
        startVersion.getOrElse(0L), endVersion.getOrElse(Long.MaxValue))),
      "stream_version", count + 1L)), count)
  }

  /** EPSCAN (`epscan.rs`, `read.rs:451-563`): partition scan by
    * sequence range; end clamped to the watermark.
    */
  def pscan(
      partitionId: Int,
      startSeq: Option[Long] = None,
      endSeq: Option[Long] = None,
      count: Int = 100): ScanResult =
    page(onSnapshot(firstByKey(_, partitionId, Seq(
      HeadProbe.Between("partition_sequence",
        startSeq.getOrElse(0L), endSeq.getOrElse(Long.MaxValue))),
      "partition_sequence", count + 1L)), count)

  private def page(rows: Seq[Row], count: Int): ScanResult =
    ScanResult(rows.take(count), rows.length > count)

  // ------------------------------------------------------------ read cache

  /** Point-lookup result cache — the command-serving role of the
    * reference's segment block cache, with the same observable counter
    * surface (`info.rs:30-113`). Committed events are immutable, so
    * entries never need invalidation; the cache is byte-bounded LRU.
    */
  private val egetCacheMaxBytes = 64L * 1024 * 1024
  private val egetCache = new java.util.LinkedHashMap[String, Row](64, 0.75f, true)
  private var egetCacheBytes = 0L
  private val cacheHits = new java.util.concurrent.atomic.AtomicLong
  private val cacheMisses = new java.util.concurrent.atomic.AtomicLong
  private val cacheEvictions = new java.util.concurrent.atomic.AtomicLong

  private def rowBytes(r: Row): Long = {
    def len(a: Any): Long = a match {
      case b: Array[Byte] => b.length.toLong
      case s: String      => 40L + s.length.toLong * 2 // on-heap chars
      case _              => 8L
    }
    64L + r.toSeq.map(len).sum
  }

  /** EGET through the read cache: a hit touches no file; a miss is the
    * jobless [[get]] probe, and a found event is cached (committed
    * events are immutable, absent ids are not cached).
    */
  def getCached(eventId: UUID): Option[Row] = {
    val key = eventId.toString
    egetCache.synchronized(Option(egetCache.get(key))) match {
      case some @ Some(_) =>
        cacheHits.incrementAndGet()
        some
      case None =>
        cacheMisses.incrementAndGet()
        val row = get(eventId)
        row.foreach { r =>
          egetCache.synchronized {
            // re-check under the lock: a concurrent miss on the same id
            // may have filled it — counting its bytes twice would
            // permanently inflate the budget
            if (!egetCache.containsKey(key)) {
              egetCacheBytes += rowBytes(r)
              egetCache.put(key, r)
              val it = egetCache.entrySet().iterator()
              while (egetCacheBytes > egetCacheMaxBytes && it.hasNext) {
                val e = it.next(); it.remove()
                egetCacheBytes -= rowBytes(e.getValue)
                cacheEvictions.incrementAndGet()
              }
            }
          }
        }
        row
    }
  }

  /** INFO CACHE counters with the reference's exact key set and
    * hit_ratio rounding (`info.rs:30-113`). block_size_bytes reports
    * the parquet row-group target — our IO unit, the role BLOCK_SIZE
    * plays there.
    */
  def cacheInfo: Map[String, Any] = {
    val h = cacheHits.get(); val m = cacheMisses.get()
    val ratio =
      if (h + m > 0) math.round(h.toDouble / (h + m) * 1000.0) / 1000.0 else 0.0
    egetCache.synchronized(Map(
      "hits" -> h,
      "misses" -> m,
      "hit_ratio" -> ratio,
      "entries" -> egetCache.size().toLong,
      "memory_bytes" -> egetCacheBytes,
      "max_bytes" -> egetCacheMaxBytes,
      "block_size_bytes" -> 134217728L,
      "evictions" -> cacheEvictions.get()))
  }

  /** ESVER: current max stream version within the stream's partition
    * (`ESVER sid [PARTITION_KEY u]` — versions are scoped per
    * (partition_key, stream) exactly like the reference's per-partition
    * stream indexes, `database.rs:298-357`). None if absent. O(1) from
    * the manifest heads.
    */
  def sver(streamId: String, partitionKey: Option[UUID] = None): Option[Long] = {
    val pk = partitionKey.getOrElse(Ids.partitionKeyForStream(streamId))
    lookupHead(pk.toString, streamId).map(_.version)
  }

  /** EPSEQ: current max partition sequence, None if the partition is
    * empty. O(1) from the watermark vector.
    */
  def pseq(partitionId: Int): Option[Long] = {
    val wm = state.watermark(partitionId)
    if (wm < 0) None else Some(wm)
  }

  /** All stream heads as (stream_id, partition_key, version),
    * MATERIALIZED to the driver — test/diagnostic convenience; use
    * `headsDf()` at scale.
    */
  def streamHeadEntries: Seq[(String, String, Long)] = {
    val heads =
      if (!hasParquetHeadLayers(state)) state.streamHeads.toSeq
      else headsDf().collect().toSeq.map(headEntry)
    heads.map { case (k, h) => (EventStore.headKeyStream(k), h.partitionKey, h.version) }
  }

  /** Number of live (partition_key, stream) head entries. */
  def streamCount: Long =
    if (!hasParquetHeadLayers(state)) state.streamHeads.size.toLong
    else headsDf().count()

  /** HELLO / INFO surface (`hello.rs:20-57`). */
  def info: Map[String, String] = Map(
    "server" -> "sierraspark",
    "version" -> "0.1.0",
    "num_partitions" -> numPartitions.toString,
    "manifest_version" -> state.version.toString)

  /** validation + lock wait, row write, manifest commit of recent appends */
  private val appendLayers = new EventStore.LayerTimes(1024, 3)

  /** INFO STORE: the manifest and file-index shape, p50/p99 (ms) of the
    * three append layers over the last 1,024 appends, and the rollovers:
    * merges swapped in, the files they replaced, merges that failed and
    * p50/p99 (ms) of the last 1,024 merges.
    */
  def storeInfo: Map[String, Any] = {
    val s = snap
    val layerStats = Seq("validate", "write", "commit").zip(appendLayers.percentiles(0.5, 0.99))
      .flatMap { case (layer, Seq(p50, p99)) =>
        Seq(s"append_${layer}_p50_ms" -> p50, s"append_${layer}_p99_ms" -> p99)
      }
    val Seq(Seq(rollP50, rollP99)) = rolloverTimes.percentiles(0.5, 0.99)
    Map(
      "manifest_version" -> s.state.version,
      "delta_chain" -> s.chain.toLong,
      "data_files" -> s.files.values.map(_.size.toLong).sum,
      "max_partition_files" -> s.files.values.map(_.size.toLong).maxOption.getOrElse(0L),
      "inline_heads" -> s.state.streamHeads.size.toLong,
      "head_layers" -> EventStore.headLayerDirs(root, s.state).size.toLong,
      "appends_sampled" -> appendLayers.size.toLong,
      "rollovers" -> rollovers.get(),
      "rolled_files" -> rolledFiles.get(),
      "rollover_failures" -> rolloverFailures.get(),
      "rollover_p50_ms" -> rollP50,
      "rollover_p99_ms" -> rollP99) ++ layerStats
  }

  // ------------------------------------------------------------- internals

  /** built once — newHadoopConf() copies the entire SQL conf and costs
    * ~10 ms, which would dominate a jobless append
    */
  private lazy val writerConf = spark.sessionState.newHadoopConf()

  /** The append write path, driver-side (no Spark job): one file per
    * touched partition ([[writeHidden]]), renamed in whole before the
    * caller commits the manifest; a crash leaves either a hidden temp
    * file or a file above the watermark, and [[recoverOrphans]] removes
    * both. A failure here deletes what this call already wrote, so the
    * sequences it held can be reused by the next append. Returns the
    * files by partition, with their stats, for the file index.
    */
  private def writeRows(rows: Seq[Event]): Map[Int, DataFile] = {
    val written = collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    try rows.groupBy(_.partition_id).map { case (pid, prs) =>
      val dir = java.nio.file.Paths.get(eventsDir, s"partition_id=$pid")
      java.nio.file.Files.createDirectories(dir)
      val sorted = prs.sortBy(_.partition_sequence)
      val tmp = writeHidden(dir, sorted.size.toLong)(put =>
        sorted.foreach(e => put(EventStore.toGroup(e))))
      written += tmp
      val dst = EventStore.publish(tmp)
      written += dst
      pid -> new DataFile(new HeadProbe.File(dst.toString),
        FileStats(sorted.head.partition_sequence, sorted.last.partition_sequence,
          prs.map(_.stream_version).min, prs.size.toLong))
    } catch {
      case e: Throwable =>
        written.foreach(java.nio.file.Files.deleteIfExists)
        throw e
    }
  }

  /** The one driver-side writer of event files (no Spark job): `feed`
    * puts `rows` records, sorted by `partition_sequence`, into a new
    * file of partition directory `dir` in the layout Spark's own writer
    * produces (see [[EventStore.fileSchema]]) — zstd, `event_id` and
    * `stream_id` bloom filters sized to the file's rows. A tier-0 file
    * (under 16 rows: an append's, until a rollover merges it) is left
    * uncompressed: zstd saves nothing on a page of a few rows, and its
    * per-column compressor streams cost about a quarter of a one-event
    * append's file write. The file keeps
    * a hidden in-flight name, which every listing skips, until
    * [[EventStore.publish]]; it is deleted if the write fails. Appends
    * and rollovers write through here.
    */
  private def writeHidden(dir: java.nio.file.Path, rows: Long)(
      feed: (Group => Unit) => Unit): java.nio.file.Path = {
    val codec =
      if (EventStore.tier(rows) == 0) CompressionCodecName.UNCOMPRESSED else CompressionCodecName.ZSTD
    val tmp = dir.resolve(
      s"${EventStore.InflightPrefix}part-${UUID.randomUUID()}${codec.getExtension}.parquet")
    try {
      // a plain local file, like the manifest: Hadoop's local
      // filesystem would fork a `chmod` per create (~7 ms on a 4-core
      // VM, most of an append) and add a checksum side file
      val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
        .withConf(writerConf)
        .withType(EventStore.fileParquetSchema)
        .withExtraMetaData(EventStore.fileMetadata)
        .withCompressionCodec(codec)
        .withBloomFilterEnabled("event_id", true)
        .withBloomFilterNDV("event_id", rows)
        .withBloomFilterEnabled("stream_id", true)
        .withBloomFilterNDV("stream_id", rows)
        .build()
      try feed(g => w.write(g)) finally w.close()
      tmp
    } catch {
      case e: Throwable =>
        java.nio.file.Files.deleteIfExists(tmp)
        throw e
    }
  }

  /** Commit `next` as a full checkpoint and publish it with `files`. A
    * spill or fold changes the head layers: the new snapshot then
    * carries new [[HeadLayers]], and the old layers' files and probed
    * heads go with the old snapshot.
    */
  private def commitState(next: ManifestState,
      files: Map[Int, Vector[DataFile]] = snap.files): Unit = {
    Manifest.commit(root, next)
    val heads = if (snap.heads.describes(next)) snap.heads else new HeadLayers(root, next)
    snap = Snapshot(next, files, 0, heads)
  }
}

object EventStore {
  val DefaultNumPartitions = 32 // `config.rs:200`

  /** Open an existing store or create an empty one at `root`.
    *
    * @param maxInlineHeads max (partition_key, stream) head entries the
    *                       manifest keeps inline before spilling to the
    *                       parquet head-state table — the bound on
    *                       driver-resident head memory
    */
  def open(
      spark: SparkSession,
      root: String,
      numPartitions: Int = DefaultNumPartitions,
      strictVersioning: Boolean = false,
      maxInlineHeads: Int = 100000): EventStore = {
    val (loaded, chain) =
      Manifest.loadChain(root).getOrElse((Manifest.empty(numPartitions), -1))
    // newer versions that did not resolve (torn, or a broken chain) are
    // dead: commit past them, never reusing their numbers, or a delta
    // left above them could later resolve over a new base
    val newest = Manifest.newestVersion(root).getOrElse(0L)
    val st = if (newest > loaded.version) loaded.copy(version = newest) else loaded
    // unless the state is exactly the newest version on disk, the first
    // commit must be a checkpoint, not a delta over it
    val es = new EventStore(spark, root, st.numPartitions.max(1), st,
      if (st eq loaded) chain else -1, strictVersioning, maxInlineHeads)
    claimRoot(es)
    recoverCompaction(root)
    es.recoverOrphans()
    es.recoverOrphanHeads()
    es
  }

  /** `compact()` writes the rewritten log to [[CompactTmp]], moves
    * `events/` to [[PreCompact]], moves the rewritten log in, then
    * deletes [[PreCompact]]. A crash between the two moves leaves no
    * `events/`: move the old log back. Either tree holds the same
    * events under the same sequences (compaction never renumbers), so
    * rolling back is always sound; whatever is left of the other tree
    * is then deleted.
    */
  private def recoverCompaction(root: String): Unit = {
    val ev = java.nio.file.Paths.get(root, "events")
    val pre = java.nio.file.Paths.get(root, PreCompact)
    if (!java.nio.file.Files.exists(ev) && java.nio.file.Files.exists(pre))
      java.nio.file.Files.move(pre, ev)
    Fs.deleteRecursively(java.nio.file.Paths.get(root, CompactTmp).toFile)
    Fs.deleteRecursively(pre.toFile)
  }

  /** adaptive bloom candidates of a Spark-written event file: 1 MB
    * halving to 1 KB, the smallest parquet keeps (it sizes candidates in
    * steps of 500 values)
    */
  private val BloomCandidates = 11

  private[api] val CompactTmp = "events.compact.tmp"
  private[api] val PreCompact = "events.pre-compact"

  /** A reader's view of the store: a committed manifest state, the data
    * files it covers by partition, the delta chain its version sits on
    * (-1: the version is not on disk) and its parquet head layers.
    */
  private final case class Snapshot(state: ManifestState,
      files: Map[Int, Vector[DataFile]], chain: Int, heads: HeadLayers)

  /** What the file index knows of a data file: its sequence range, its
    * lowest stream version and its row count.
    */
  private final case class FileStats(minSeq: Long, maxSeq: Long, minVersion: Long, rows: Long)

  /** One committed data file of the file index (its footer and bloom
    * filters live with `file`), with its [[FileStats]]: known when an
    * append or a rollover writes the file, else read from its footer on
    * first use.
    */
  private final class DataFile(val file: HeadProbe.File, known: => FileStats) {
    lazy val stats: FileStats = known
    def path: java.nio.file.Path = java.nio.file.Paths.get(file.path)
    def minOf(key: String): Long = key match {
      case "partition_sequence" => stats.minSeq
      case "stream_version"     => stats.minVersion
    }
  }

  private object DataFile {
    /** a listed file, its stats read from its footer when first needed;
      * both writers keep int64 statistics (README "Storage model")
      */
    def listed(f: HeadProbe.File): DataFile = new DataFile(f, {
      def range(c: String) = f.longRange(c).getOrElse(
        throw new IllegalStateException(s"$f has no $c statistics"))
      val (lo, hi) = range("partition_sequence")
      FileStats(lo, hi, f.longRange("stream_version").fold(Long.MinValue)(_._1), f.rows)
    })
  }

  /** Files a rollover merges into one: [[RolloverFanIn]] adjacent files
    * of one size tier (⌊log16 rows⌋).
    */
  private val RolloverFanIn = 16

  /** Files of this tier or above (4,096 rows or more) are sealed: no
    * rollover reads them, so one merge reads at most 16 × 4,095 rows.
    * Larger files come from `ingest` and `compact()`.
    */
  private val SealedTier = 3

  private def tier(rows: Long): Int =
    if (rows < RolloverFanIn) 0 else 1 + tier(rows / RolloverFanIn)

  /** Every full run among `files`, oldest first: [[RolloverFanIn]]
    * sequence-adjacent files of one unsealed tier.
    */
  private def fullRuns(files: Vector[DataFile]): Iterator[Vector[DataFile]] = {
    val tiered = files.sortBy(_.stats.minSeq).map(f => f -> tier(f.stats.rows))
    Iterator.unfold(tiered)(rest => rest.headOption.map { case (_, t) => rest.span(_._2 == t) })
      .filter(_.head._2 < SealedTier)
      .flatMap(_.map(_._1).grouped(RolloverFanIn).filter(_.sizeIs == RolloverFanIn))
  }

  /** The one thread that merges runs for every store of this JVM,
    * started by the first append that fills a run.
    */
  private[api] lazy val rolloverWorker: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "graft-rollover")
      t.setDaemon(true)
      t
    }

  /** Merges running per store root (its registry key). A merge runs only
    * for the handle the registry holds for its root, and opening a root
    * waits for the merges running there, so a superseded handle never
    * swaps files under a newer one's index.
    */
  private val runningMerges = collection.mutable.Map.empty[String, Int]

  /** Register `es` as its root's handle, then wait until no merge of an
    * older handle runs there.
    */
  private def claimRoot(es: EventStore): Unit = runningMerges.synchronized {
    register(es)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (runningMerges.contains(registryKey(es.root))) {
      val left = (deadline - System.nanoTime()) / 1000000L
      if (left <= 0) throw new IllegalStateException(
        s"a rollover of ${es.root} is still running after 60 s")
      runningMerges.wait(left)
    }
  }

  /** Whether `es` may merge (and the merge now counts as running); pair
    * with [[endMerge]].
    */
  private def startMerge(es: EventStore): Boolean = runningMerges.synchronized {
    val key = registryKey(es.root)
    Option(registry.get(key)).exists(_._2.get() eq es) && {
      runningMerges(key) = runningMerges.getOrElse(key, 0) + 1
      true
    }
  }

  private def endMerge(root: String): Unit = runningMerges.synchronized {
    val key = registryKey(root)
    if (runningMerges(key) == 1) runningMerges -= key else runningMerges(key) -= 1
    runningMerges.notifyAll()
  }

  /** The parquet head layers of one manifest state, newest first: each
    * layer's files, listed on first use, and the layered heads of the
    * last 4,096 stream ids looked up. The layers of one object never
    * change: a spill or fold commits a state with other layers, and the
    * snapshot that publishes it carries a new object. Keys are unique
    * within a layer, so the newest layer's entry per partition key is
    * the layered max-priority merge.
    */
  private final class HeadLayers(root: String, st: ManifestState) {
    private val dirs = headLayerDirs(root, st)
    private lazy val files: Seq[Seq[HeadProbe.File]] =
      dirs.sortBy(-_._2).map(d => HeadProbe.listFiles(d._1))
    private val byStream =
      new java.util.LinkedHashMap[String, Seq[StreamHead]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Seq[StreamHead]]): Boolean = size() > 4096
      }

    def describes(next: ManifestState): Boolean = headLayerDirs(root, next) == dirs

    /** every layered head of stream `sid`, one per partition key */
    def of(sid: String): Seq[StreamHead] =
      if (dirs.isEmpty) Nil
      else byStream.synchronized(Option(byStream.get(sid))).getOrElse {
        val merged = collection.mutable.LinkedHashMap.empty[String, StreamHead]
        files.foreach(layer => HeadProbe.probeStream(layer, sid).foreach {
          case (pk, pid, ver) => if (!merged.contains(pk)) merged(pk) = StreamHead(ver, pk, pid)
        })
        val heads = merged.values.toSeq
        byStream.synchronized(byStream.put(sid, heads))
        heads
      }
  }

  /** The last `n` samples of `layers` durations (ns), as a ring. */
  private final class LayerTimes(n: Int, layers: Int) {
    private val ring = Array.ofDim[Long](layers, n)
    private var count = 0L

    def record(ns: Long*): Unit = synchronized {
      val i = (count % n).toInt
      ns.indices.foreach(l => ring(l)(i) = ns(l))
      count += 1
    }

    def size: Int = synchronized(math.min(count, n.toLong).toInt)

    /** per layer, the nearest-rank quantiles `qs` in ms (0 when empty) */
    def percentiles(qs: Double*): Seq[Seq[Double]] = synchronized {
      val m = size
      ring.toSeq.map { samples =>
        val sorted = samples.take(m).sorted
        qs.map(q =>
          if (m == 0) 0.0
          else math.round(sorted(math.ceil(q * m).toInt.max(1) - 1) / 1e3) / 1e3)
      }
    }
  }

  // ---- store registry (optimizer rules resolve relations to stores) ----

  /** What a rule may know about a store: its root and geometry. Plain
    * strings/ints — registering never retains the EventStore instance
    * (a closed or superseded handle's in-memory state must not answer
    * queries; the committed truth is always re-read from disk).
    */
  final case class RegisteredStore(root: String, numPartitions: Int)

  /** Registry value: the plain-strings descriptor plus a WEAK reference
    * to the live handle. The weak ref never keeps a handle alive, and a
    * handle's in-memory state is only ever trusted after a version
    * probe against disk (`headsForRewrite`) — a stale or superseded
    * handle fails the probe and the committed truth is re-read.
    */
  private val registry = new java.util.concurrent.ConcurrentHashMap[
    String, (RegisteredStore, java.lang.ref.WeakReference[EventStore])]()

  private def normalizePath(p: String): String =
    java.nio.file.Paths.get(p).normalize().toString

  private def registryKey(root: String): String = normalizePath(s"$root/events")

  private def register(es: EventStore): Unit =
    registry.put(registryKey(es.root),
      (RegisteredStore(es.root, es.numPartitions),
        new java.lang.ref.WeakReference(es)))

  /** The registered store whose events directory backs this file
    * relation, if any — how the optimizer rules prove a scan is a
    * graft event log (path identity, not column-name guessing).
    */
  def registeredFor(
      fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation)
      : Option[RegisteredStore] =
    fs.location.rootPaths.iterator
      .map(p => normalizePath(p.toUri.getPath))
      .flatMap(p => Option(registry.get(p)).map(_._1))
      .nextOption()

  /** Snapshot + per-stream heads for [[graft.plans.HeadLookupRewrite]],
    * cheapest sound path first:
    *
    *   1. if the registered LIVE handle's in-memory manifest version
    *      matches the newest on-disk version (a directory-listing
    *      probe — no file read, no JSON parse, no Spark job), answer
    *      from that handle's snapshot, whose head layers cache each
    *      stream's layered heads. On the hot path (repeated head
    *      queries between commits) this is pure memory.
    *   2. otherwise (no live handle, or a concurrent writer advanced
    *      the manifest) fall back to the full disk snapshot read.
    */
  def headsForRewrite(
      reg: RegisteredStore,
      streamId: String): Option[(ManifestState, Seq[StreamHead])] = {
    val live = Option(registry.get(registryKey(reg.root)))
      .flatMap(e => Option(e._2.get()))
    live.map(_.snap)
      .filter(s => s.state.version > 0 &&
        Manifest.newestVersion(reg.root).contains(s.state.version))
      .map(s => (s.state, streamHeadsOf(s.state, streamId, s.heads.of(streamId))))
      .orElse(headsFromDisk(reg, streamId))
  }

  /** Disk-snapshot view for [[graft.plans.HeadLookupRewrite]]: the
    * loaded manifest plus every head entry of one stream id ACROSS ALL
    * partition keys (a bare `stream_id = x` filter matches the stream
    * under every key, so the rewrite must consider each entry — and
    * check the clamp at each entry's partition). Layer files are
    * immutable, so snapshot + layers is a consistent point-in-time
    * view regardless of which live handle — if any — wrote it. With no
    * live handle there is no snapshot to keep the layers' files in:
    * they are listed and read for this call.
    */
  private def headsFromDisk(
      reg: RegisteredStore,
      streamId: String): Option[(ManifestState, Seq[StreamHead])] =
    Manifest.load(reg.root).map { st =>
      (st, streamHeadsOf(st, streamId, new HeadLayers(reg.root, st).of(streamId)))
    }

  private def headsBaseDir(root: String, v: Long) = s"$root/_heads/base-v$v"
  private def headsDeltaDir(root: String, v: Long) = s"$root/_heads/delta-v$v"

  /** the parquet head layers of `st` as (directory, priority), oldest
    * first: the folded base, then the deltas by version
    */
  private def headLayerDirs(root: String, st: ManifestState): Seq[(String, Long)] =
    (if (st.headsBase > 0) Seq(headsBaseDir(root, st.headsBase) -> 0L) else Nil) ++
      st.headsDeltas.map(v => headsDeltaDir(root, v) -> v)

  /** Every head entry of one stream id across all partition keys in
    * `st`: the inline overlay (newest, wins per key) merged with the
    * stream's `layered` heads ([[HeadLayers.of]]).
    */
  private def streamHeadsOf(st: ManifestState, sid: String,
      layered: Seq[StreamHead]): Seq[StreamHead] = {
    val inline = st.streamHeads.collect {
      case (k, h) if k.length == 37 + sid.length && k.endsWith(sid) => h
    }.toSeq
    val inlineKeys = inline.map(_.partitionKey).toSet
    inline ++ layered.filterNot(h => inlineKeys.contains(h.partitionKey))
  }

  private[api] val headsParquetSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("stream_id",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("partition_key",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("partition_id",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("version",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** Name prefix of an append's file while it is written: hidden, so
    * Spark's file index, the command reads and the streaming source all
    * skip it until the rename publishes it.
    */
  private[api] val InflightPrefix = ".inflight-"

  /** Rename a hidden in-flight file to its visible name. */
  private def publish(tmp: java.nio.file.Path): java.nio.file.Path = {
    val dst = tmp.resolveSibling(tmp.getFileName.toString.stripPrefix(InflightPrefix))
    java.nio.file.Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** An event file's columns exactly as Spark writes a dataset of
    * [[graft.core.Event]] partitioned by `partition_id`: the encoder's
    * types and nullability (strings and binaries optional, longs
    * required), the partition column left to the directory name.
    */
  private[api] val fileSchema: StructType = StructType(
    Encoders.product[Event].schema.filterNot(_.name == EventSchema.PartitionIdCol))

  private val fileParquetSchema = new SparkToParquetSchemaConverter().convert(fileSchema)

  /** the footer key/values Spark writes: a read without a schema infers
    * [[fileSchema]] from them
    */
  private val fileMetadata = java.util.Map.of(
    "org.apache.spark.version", org.apache.spark.SPARK_VERSION_SHORT,
    "org.apache.spark.sql.parquet.row.metadata", fileSchema.json)

  /** A stored record, from a file of either writer, as a record of
    * [[fileParquetSchema]].
    */
  private def copyGroup(src: Group): Group = {
    val g = new SimpleGroup(fileParquetSchema)
    (0 until fileParquetSchema.getFieldCount).foreach { i =>
      val name = fileParquetSchema.getFieldName(i)
      if (src.getFieldRepetitionCount(name) > 0)
        fileParquetSchema.getType(i).asPrimitiveType.getPrimitiveTypeName match {
          case PrimitiveTypeName.INT64 => g.add(i, src.getLong(name, 0))
          case _                       => g.add(i, src.getBinary(name, 0))
        }
    }
    g
  }

  private def toGroup(e: Event): Group = {
    val g = new SimpleGroup(fileParquetSchema)
    g.add("event_id", e.event_id)
    g.add("transaction_id", e.transaction_id)
    g.add("partition_key", e.partition_key)
    g.add("partition_sequence", e.partition_sequence)
    g.add("stream_version", e.stream_version)
    g.add("stream_id", e.stream_id)
    g.add("event_name", e.event_name)
    g.add("timestamp_ns", e.timestamp_ns)
    // a null blob is an absent optional value, as Spark writes it
    if (e.metadata != null) g.add("metadata", Binary.fromConstantByteArray(e.metadata))
    if (e.payload != null) g.add("payload", Binary.fromConstantByteArray(e.payload))
    g
  }

  /** One stored record as an [[EventSchema.schema]] row; `partition_id`
    * comes from the directory, like Spark's partition discovery.
    */
  private[graft] def eventRow(pid: Int, g: Group): Row = {
    def bin(c: String): Array[Byte] =
      if (g.getFieldRepetitionCount(c) == 0) null else g.getBinary(c, 0).getBytes
    new GenericRowWithSchema(Array[Any](
      g.getString("event_id", 0),
      g.getString("transaction_id", 0),
      g.getString("partition_key", 0),
      pid,
      g.getLong("partition_sequence", 0),
      g.getLong("stream_version", 0),
      g.getString("stream_id", 0),
      g.getString("event_name", 0),
      g.getLong("timestamp_ns", 0),
      bin("metadata"),
      bin("payload")), EventSchema.schema)
  }

  /** heads map key: 36-char uuid prefix + ':' + stream id (fixed-width
    * prefix, safe for any stream id content).
    */
  private[api] def headKey(pk: String, sid: String): String = pk + ":" + sid

  private[api] def headKeyStream(key: String): String = key.substring(37)

}
