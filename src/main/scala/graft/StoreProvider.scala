package graft

import graft.api.EventStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Builds (once per sfDir+session) an EventStore ingested from the
  * driver's events table, so the correctness gate exercises the real
  * append path: partition routing by stream-id hash, gapless
  * partition_sequence / stream_version assignment, manifest commit,
  * then all reads through the watermark-clamped snapshot.
  *
  * Mapping: stream_id = 'user-<user_id>', event_name = event_type,
  * payload = props bytes, arrival order = event_id.
  */
object StoreProvider {
  val NumPartitions = 32

  /** One directory per JVM for every store and index built here,
    * deleted with everything in it when the JVM exits.
    */
  private lazy val storesDir: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft-stores-")
    sys.addShutdownHook(graft.core.Fs.deleteRecursively(d.toFile))
    d
  }

  private def newDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(storesDir, prefix).toString

  private val cache = scala.collection.concurrent.TrieMap.empty[String, EventStore]

  def storeFor(spark: SparkSession, sfDir: String): EventStore =
    cache.getOrElseUpdate(sfDir + "@" + System.identityHashCode(spark), {
      val root = newDir("graft-store-")
      val es = EventStore.open(spark, root, NumPartitions)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val src = Tables.events(spark, sfDir)
        .select(
          concat(lit("user-"), col("user_id")).as("stream_id"),
          col("event_type").as("event_name"),
          col("props").cast("binary").as("payload"),
          expr("ts div 1000000").as("timestamp_ms"),
          col("event_id").as("arrival"))
      es.ingest(src, "arrival")
      es
    })

  private val docCache =
    scala.collection.concurrent.TrieMap.empty[String, EventStore]

  /** Cache key for the predicate-restricted stores: (sfDir, session,
    * CANONICAL PREDICATE). The predicate's printed form is part of the
    * key — without it a second caller passing a different predicate
    * would silently receive a store built with the first caller's,
    * streaming wrong events with no error. `Column.toString` is the
    * canonical text of the column node (literals included); the
    * Expression bridge's `.sql` is NOT usable here — an unresolved
    * Spark 4 column renders as the placeholder `columnnodeexpression()`
    * for EVERY predicate, which collapsed distinct predicates onto one
    * key (two gated queries with 10%/50% splits shared one store and
    * the second returned zero pairs).
    */
  private def storeKey(spark: SparkSession, sfDir: String,
      pred: org.apache.spark.sql.Column): String =
    sfDir + "@" + System.identityHashCode(spark) + "#" + pred.toString

  /** A second store whose events ARE documents (stream_id =
    * 'doc-<doc_id>', payload = text bytes), restricted by `pred` —
    * the live-ingest feed for the streaming dedup gate. Built once
    * per (sfDir, session) like [[storeFor]], through the same real
    * append path.
    */
  def docStoreFor(spark: SparkSession, sfDir: String,
      pred: org.apache.spark.sql.Column): EventStore =
    docCache.getOrElseUpdate(storeKey(spark, sfDir, pred), {
      val root = newDir("graft-docstore-")
      val es = EventStore.open(spark, root, NumPartitions)
      val src = Tables.documents(spark, sfDir)
        .where(pred)
        .select(
          concat(lit("doc-"), col("doc_id")).as("stream_id"),
          lit("doc").as("event_name"),
          col("text").cast("binary").as("payload"),
          col("doc_id").cast("long").as("timestamp_ms"),
          col("doc_id").as("arrival"))
      es.ingest(src, "arrival")
      es
    })

  private val minhashIdxCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Session-cached PERSISTED minhash band index over the FULL corpus
    * — the signature store [[graft.ops.Dedup.minhashLshIncrementalIndexed]]
    * probes. Built once per (sfDir, session) like the event stores:
    * production builds its signature store once (and appends per
    * ingest batch), so an incremental-dedup gate that re-derived the
    * corpus-wide band keys on every invocation was measuring a pass
    * production never runs — the dominant 10× cost of the old
    * dedup_minhash_incremental leg (three consecutive driver records
    * above 4.7× while idle probes read ≤2.4). Same default geometry
    * (k=3, 8 hashes, 4 bands) as the probe side.
    */
  def minhashBandIndexFor(spark: SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    val dir = minhashIdxCache.getOrElseUpdate(
      sfDir + "@" + System.identityHashCode(spark), {
        val d = newDir("graft-minhash-idx-")
        graft.streaming.StreamingDedup.seedMinhashIndex(
          Tables.documents(spark, sfDir), "text", "doc_id", d)
        d
      })
    spark.read.parquet(dir)
  }

  private val embCache =
    scala.collection.concurrent.TrieMap.empty[String, EventStore]

  /** A store whose events announce EMBEDDING arrivals (stream_id =
    * 'vec-<vec_id>', empty payload — production events reference the
    * vector store rather than shipping floats through text payloads),
    * restricted by `pred` — the live feed for the streaming
    * embedding-cosine dedup gate. Built once per (sfDir, session).
    */
  def embStoreFor(spark: SparkSession, sfDir: String,
      pred: org.apache.spark.sql.Column): EventStore =
    embCache.getOrElseUpdate(storeKey(spark, sfDir, pred), {
      val root = newDir("graft-embstore-")
      val es = EventStore.open(spark, root, NumPartitions)
      val src = Tables.embeddings(spark, sfDir)
        .where(pred)
        .select(
          concat(lit("vec-"), col("vec_id")).as("stream_id"),
          lit("vec").as("event_name"),
          col("vec_id").cast("long").as("timestamp_ms"),
          col("vec_id").as("arrival"))
      es.ingest(src, "arrival")
      es
    })
}
