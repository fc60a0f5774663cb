package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.api.EventStore
import graft.ops.Dedup
import graft.storage.Manifest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `bulk_dedup`: the analytics path. A generated corpus with planted
  * exact and near duplicates is bulk-ingested as events, compacted, and
  * deduplicated with `Dedup.dedupPipeline` over the event payloads.
  *
  * Why: it runs the bulk-ingest shuffle, compaction, the `graft.ops`
  * kernels and Spark shuffles, with no server, no per-append manifest
  * commit and no streaming. A change to the session, the registry or an
  * ops kernel shows here and nowhere else.
  */
object BulkDedup {

  final case class Params(docs: Int, words: Int, vocab: Int, exactShare: Double,
      nearShare: Double, sources: Int, minRounds: Int, setups: Int)

  val P: Params = Params(docs = 5000, words = 30, vocab = 5000, exactShare = 0.10,
    nearShare = 0.10, sources = 64, minRounds = 2, setups = 3)

  /** dedupPipeline's defaults, spelled out for the stage split. */
  val K = 3; val NumHashes = 8; val Bands = 4; val Threshold = 0.5

  def generator: Seq[(String, Any)] = Seq(
    "kind" -> "batch", "documents" -> P.docs, "words_per_document" -> P.words,
    "vocabulary" -> P.vocab, "word_zipf_exponent" -> 1.0,
    "exact_duplicate_share" -> P.exactShare, "near_duplicate_share" -> P.nearShare,
    "source_streams" -> P.sources, "warmup_rounds" -> 1,
    "shingle_k" -> K, "minhash" -> NumHashes, "bands" -> Bands, "threshold" -> Threshold)

  /** Set-up: generate the corpus and stage it as the job's parquet input. */
  def setup(spark: SparkSession, args: RunArgs, k: Int): (Gen.Corpus, String) = {
    val c = Gen.corpus(args.seed, P.docs, P.words, P.vocab, P.exactShare, P.nearShare)
    val dir = args.work.resolve(s"input-$k").toString
    val schema = StructType(Seq(StructField("stream_id", StringType),
      StructField("event_name", StringType), StructField("payload", BinaryType),
      StructField("metadata", BinaryType), StructField("ord", LongType)))
    val rows = c.texts.indices.map(i => Row(s"src-${i % P.sources}", "Document",
      c.texts(i).getBytes(UTF_8), i.toString.getBytes(UTF_8), i.toLong))
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite").parquet(dir)
    (c, dir)
  }

  /** The documents as the store holds them: (id, text) from the events. */
  private def documents(es: EventStore): DataFrame =
    es.events().select(col("metadata").cast("string").cast("long").as("id"),
      col("payload").cast("string").as("text"))

  final case class Round(ingestS: Double, compactS: Double, dedupS: Double,
      rows: Seq[(Long, Long, Boolean)], es: EventStore) {
    def batchS: Double = ingestS + compactS + dedupS
  }

  /** One batch: ingest the staged input into a fresh store, compact it,
    * deduplicate the payloads and collect the result.
    */
  def round(spark: SparkSession, input: String, root: String, tracer: Option[Tracer]): Round = {
    def span[T](name: String)(f: => T): T = tracer.fold(f)(_.span(name)(f))
    val es = EventStore.open(spark, root)
    val t0 = System.nanoTime()
    span("api.ingest")(es.ingest(spark.read.parquet(input), "ord"))
    val t1 = System.nanoTime()
    span("api.compact")(es.compact())
    val t2 = System.nanoTime()
    val rows = span("ops.dedup")(Dedup.dedupPipeline(documents(es), "text", "id").collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val t3 = System.nanoTime()
    Round((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, rows, es)
  }

  /** Store-level checks: every document ingested once, and partition
    * sequences gapless.
    */
  def storeChecks(es: EventStore, n: Int): Seq[String] = {
    val ev = es.events()
    val rows = ev.count()
    val parts = ev.groupBy("partition_id").agg(min("partition_sequence"), max("partition_sequence"),
      count(lit(1)), countDistinct("partition_sequence")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    (if (rows != n) Seq(s"ingested $rows events for $n documents") else Nil) ++
      Checks.gaplessSequences(parts)
  }

  def exactGroups(c: Gen.Corpus): Map[Int, Seq[Int]] =
    c.exactOf.toSeq.groupBy(_._2).map { case (o, xs) => o -> xs.map(_._1).sorted }

  def run(spark: SparkSession, args: RunArgs): Outcome = {
    val problems = mutable.ArrayBuffer.empty[String]
    val setups = (1 to P.setups).map { k =>
      val t0 = System.nanoTime()
      val s = setup(spark, args, k)
      ((System.nanoTime() - t0) / 1e9, s)
    }
    val setupS = Stats.median(setups.map(_._1))
    val (corpus, input) = setups.last._2
    val groups = exactGroups(corpus)

    // one unmeasured round first, so measured rounds do not pay first-use
    // code generation and compilation
    val warm = round(spark, input, args.work.resolve("warm").toString, None)
    graft.core.Fs.deleteRecursively(new java.io.File(warm.es.root))

    def check(r: Round): Unit = {
      problems ++= storeChecks(r.es, P.docs)
      problems ++= Checks.dedupOutput(P.docs, r.rows, groups)
    }

    Main.log(s"set-ups ${setups.map(_._1).map(x => f"$x%.2f").mkString(" ")} s; warm-up done")
    val t0 = System.nanoTime()
    val rounds = mutable.ArrayBuffer.empty[Round]
    var spaceAmp = 0.0
    while (rounds.length < P.minRounds || System.nanoTime() - t0 < args.runNs) {
      val r = round(spark, input, args.work.resolve(s"store-${rounds.length}").toString, None)
      rounds += r
      Main.log(f"round: ingest ${r.ingestS}%.2f s, compact ${r.compactS}%.2f s, dedup ${r.dedupS}%.2f s")
      check(r)
      spaceAmp = StorageProbe.bytesUnder(java.nio.file.Paths.get(r.es.root)).toDouble /
        corpus.texts.map(_.getBytes(UTF_8).length.toLong).sum
      graft.core.Fs.deleteRecursively(new java.io.File(r.es.root))
    }
    val heapMb = Jvm.liveHeapMb()
    val recall = Checks.recall(rounds.last.rows, corpus.nearOf)
    val e = e2e(rounds.toSeq, setupS, spaceAmp)
    val samples = Map("setup_s" -> P.setups, "work_per_s" -> rounds.length,
      "write_mean_ms" -> rounds.length, "read_mean_ms" -> rounds.length,
      "workload.batch_s" -> rounds.length)
    val workloadLayer = Map(
      "workload.ingest_events_per_s" -> P.docs / Stats.median(rounds.map(_.ingestS).toSeq),
      "workload.batch_s" -> Stats.median(rounds.map(_.batchS).toSeq),
      "workload.write_p50_ms" -> Stats.median(rounds.map(_.ingestS * 1e3).toSeq),
      "workload.read_p50_ms" -> Stats.median(rounds.map(_.dedupS * 1e3).toSeq),
      "ops.dedup_recall" -> recall, "jvm.heap_live_mb" -> heapMb)
    var attempted = rounds.length.toLong

    val perLayer =
      if (!args.trace) Map.empty[String, Double]
      else {
        val tracer = new Tracer(spark)
        val s0 = System.nanoTime()
        tracer.span("setup")(setup(spark, args, P.setups + 1))
        val tSetupS = (System.nanoTime() - s0) / 1e9
        val loads0 = Manifest.loads.get()
        val win = new ExecWindow(tracer)
        val r = round(spark, input, args.work.resolve("store-traced").toString, Some(tracer))
        val exec = win.close()
        check(r)
        attempted += 1
        val root = java.nio.file.Paths.get(r.es.root)
        val te = e2e(Seq(r), tSetupS, StorageProbe.bytesUnder(root).toDouble /
          corpus.texts.map(_.getBytes(UTF_8).length.toLong).sum)
        val storage = StorageProbe.readings(r.es, r.es.manifest.version,
          Manifest.loads.get() - loads0, P.docs)
        val ops = stages(r.es, tracer)
        tracer.stop()
        tracer.dump(args.out.resolve(s"${args.workload}-seed${args.seed}-spans.jsonl"))
        graft.core.Fs.deleteRecursively(root.toFile)
        workloadLayer ++ exec ++ storage ++ ops ++ Map(
          "api.ingest_s" -> r.ingestS, "api.compact_s" -> r.compactS, "ops.dedup_s" -> r.dedupS) ++
          Main.EndToEnd.map { case (m, _) =>
            s"trace.overhead.$m" -> (if (e(m) == 0) 0.0 else te(m) / e(m) - 1.0)
          }
      }
    Outcome(attempted, 0L, e, perLayer, samples, generator, problems.toSeq)
  }

  /** One sample per round: the `ingest` call that acknowledges the
    * batch's documents (write) and the `dedupPipeline` materialization
    * that classifies them (read).
    */
  def e2e(rounds: Seq[Round], setupS: Double, spaceAmp: Double): Map[String, Double] =
    Map(
      "setup_s" -> setupS,
      "work_per_s" -> rounds.length * P.docs / rounds.map(_.batchS).sum,
      "write_mean_ms" -> Stats.mean(rounds.map(_.ingestS * 1e3)),
      "read_mean_ms" -> Stats.mean(rounds.map(_.dedupS * 1e3)),
      "space_amp" -> spaceAmp)

  /** The pipeline's stages one at a time, each materialized under its own
    * span: the same public functions, arguments and order
    * `dedupPipeline` uses.
    */
  private def stages(es: EventStore, tracer: Tracer): Map[String, Double] = {
    def timed[T](name: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = tracer.span(s"ops.$name")(f)
      (v, (System.nanoTime() - t0) / 1e9)
    }
    val withFp = documents(es).select(col("id"), col("text"), md5(col("text").cast("binary")).as("fp"))
    val keepers = withFp.groupBy(col("fp")).agg(min(col("id")).as("rep"))
    val reps = withFp.join(keepers, "fp").where(col("id") === col("rep"))
      .select(col("id"), col("text")).localCheckpoint()
    val (sh, tSh) = timed("shingles")(Dedup.wordShingles(reps, "text", "id", K).localCheckpoint())
    val (sig, tSig) = timed("signatures")(Dedup.minhashSignatures(sh, NumHashes).localCheckpoint())
    val (cand, tCand) = timed("candidates")(
      Dedup.minhashCandidates(sig, Bands, NumHashes / Bands).localCheckpoint())
    val (jac, tJac) = timed("jaccard")(
      Dedup.jaccardForCandidates(cand, sh).where(col("jaccard") >= Threshold).localCheckpoint())
    val ((cc, rounds), tCc) = timed("components") {
      val (c, n) = Dedup.connectedComponentsWithRounds(jac.select(col("a"), col("b")))
      (c.localCheckpoint(), n)
    }
    cc.count()
    val candidates = cand.count()
    val verified = jac.count()
    Map(
      "ops.stage_s.shingles" -> tSh, "ops.stage_s.signatures" -> tSig,
      "ops.stage_s.candidates" -> tCand, "ops.stage_s.jaccard" -> tJac,
      "ops.stage_s.components" -> tCc,
      "ops.candidate_pairs" -> candidates.toDouble,
      "ops.pair_precision" -> (if (candidates == 0) 0.0 else verified.toDouble / candidates),
      "ops.cc_rounds" -> rounds.toDouble)
  }
}
