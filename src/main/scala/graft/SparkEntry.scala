package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.jdk.CollectionConverters._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a DuckDB-equivalent in `oracleSql` (the
  * correctness gate). Numeric conventions for hash-stable comparison:
  *   - money/value sums go through DECIMAL(18,s) so both engines sum
  *     exactly, then cast back to DOUBLE;
  *   - timestamps are compared as epoch numbers (the events table is
  *     read with nanosAsLong so `ts` is a ns BIGINT in both engines);
  *   - every query ends in a deterministic ORDER BY on a unique key.
  */
object SparkEntry {

  /** Spark reads parquet TIMESTAMP(NANOS) only as a raw long. We want
    * that anyway: exact ns arithmetic matches DuckDB's epoch_ns().
    */
  private def withNanos(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }

  private def ev(s: SparkSession, d: String): DataFrame =
    Tables.events(withNanos(s), d)

  /** Exact decimal sum rendered as double (see class doc). */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------------
  // Operator queries. Names map to SURVEY.md §2 inventory + the
  // LLM-pipeline additions.
  // ------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- event-store read surface over the raw events table ---------

    // EGET (§2.1 #3): point lookup by event key.
    "eget_point" -> ((s, d) =>
      ev(s, d).where(col("event_id") === 4321)
        .select(col("event_id"), expr("ts div 1000").as("ts_us"), col("user_id"),
          col("event_type"), col("value"), col("props"))),

    // ESCAN (§2.1 #4): per-stream ordered range scan with COUNT limit.
    "escan_stream" -> ((s, d) =>
      ev(s, d)
        .where(col("user_id") === 42 && col("event_id").between(0, 1000000))
        .orderBy(col("event_id"))
        .limit(100)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("props"))),

    // EPSCAN (§2.1 #5): partition scan by sequence range (partition =
    // event_id mod 32, the reference's partition_id derivation shape).
    "epscan_partition" -> ((s, d) =>
      ev(s, d)
        .where(col("event_id") % 32 === 7)
        .orderBy(col("event_id"))
        .limit(100)
        .select(col("event_id"), col("event_type"), col("value"))),

    // ESVER (§2.1 #6): head version per stream (max-aggregate form).
    "esver_heads" -> ((s, d) =>
      ev(s, d).groupBy(col("user_id"))
        .agg(max(col("event_id")).as("head"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))),

    // EPSEQ (§2.1 #7): head sequence per partition.
    "epseq_heads" -> ((s, d) =>
      ev(s, d).groupBy((col("event_id") % 32).as("partition_id"))
        .agg(max(col("event_id")).as("head_seq"), count(lit(1)).as("n_events"))
        .orderBy(col("partition_id"))),

    // Stream-version assignment (write-path semantics, §2.2
    // append_events): gapless per-stream versions via window.
    "stream_versions" -> ((s, d) =>
      ev(s, d)
        .withColumn("stream_version",
          row_number().over(
            Window.partitionBy(col("user_id")).orderBy(col("event_id"))).cast("long") - 1)
        .where(col("user_id") < 10)
        .select(col("event_id"), col("user_id"), col("stream_version"))
        .orderBy(col("event_id"))),

    // --- analytics over the star schema -----------------------------

    // TPC-H Q1 shape: scan + filter + grouped aggregation.
    "q1_agg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // TPC-H Q3 shape: 3-way join + group + top-k. NO broadcast hints on
    // orders/customer — they scale with SF (not broadcastable at
    // 100 TB); AQE auto-broadcasts them while they fit and switches to
    // shuffle joins when they don't.
    "q3_topk" -> ((s, d) => {
      val c = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).where(col("o_orderdate") < to_timestamp(lit("1998-03-15")))
      val l = Tables.lineitem(s, d).where(col("l_shipdate") > to_timestamp(lit("1995-03-15")))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: 6-way join + group by nation. Broadcast hints
    // ONLY on the fixed-size dims (nation, region); orders/customer/
    // supplier scale with SF, so their join strategy is AQE's call.
    "q5_region" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val cst = Tables.customer(s, d)
      val sp = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d).where(col("r_name") === "ASIA")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(cst, col("o_custkey") === col("c_custkey"))
        .join(sp,
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
        .orderBy(col("n_name"))
    }),

    // Window function: rank orders per customer, keep top 3.
    "window_rank" -> ((s, d) =>
      Tables.orders(s, d)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
        .where(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rk").cast("long").as("rk"))
        .orderBy(col("o_custkey"), col("rk"))),

    // Grouped top-k through the CUSTOM physical operator (TopKPerKeyExec:
    // bounded per-key heaps after one hash shuffle — no per-group sort);
    // the oracle recomputes it with a window, proving plan-level
    // equivalence of the custom exec.
    "topk_custom" -> ((s, d) =>
      graft.plans.TopK.topKPerKey(
        Tables.orders(s, d), Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("o_orderkey"))),

    // Window function: running revenue per supplier (exact decimal).
    "running_sum" -> ((s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_suppkey") < 20)
        .withColumn("running_qty",
          sum(col("l_quantity").cast(DecimalType(18, 2))).over(
            Window.partitionBy(col("l_suppkey"))
              .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("running_qty"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))),

    // Streaming-shaped: tumbling 1h event-time windows per event_type.
    "events_tumbling" -> ((s, d) =>
      ev(s, d)
        .withColumn("window_start_ms",
          expr("ts div 3600000000000") * lit(3600000L))
        .groupBy(col("window_start_ms"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("window_start_ms"), col("event_type"))),

    // Volume-anomaly detection: each (hour window, event_type) count
    // z-scored against that type's window-count distribution —
    // monitoring over the event log. Two map-side-combinable aggs; the
    // |types|-row stats broadcast back; flag from the ROUNDED z so
    // both engines agree at the boundary.
    "events_anomaly" -> ((s, d) => {
      val wc = ev(s, d)
        .withColumn("window_start_ms",
          expr("ts div 3600000000000") * lit(3600000L))
        .groupBy(col("window_start_ms"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val stats = wc.groupBy(col("event_type"))
        .agg(avg(col("n")).as("mean_n"),
          sqrt(avg(col("n") * col("n")) - avg(col("n")) * avg(col("n")))
            .as("std_n"))
      wc.join(broadcast(stats), "event_type")
        // zero-variance guard: a type seen in a single window (or with
        // constant counts) has std_n = 0 — Spark's division yields NULL
        // while IEEE engines yield inf/NaN; pin z = 0 on both sides
        .withColumn("z",
          when(col("std_n") === 0, lit(0.0))
            .otherwise(round((col("n") - col("mean_n")) / col("std_n"), 4)))
        .select(col("window_start_ms"), col("event_type"), col("n"),
          col("z"), (abs(col("z")) >= 2.0).as("is_anomaly"))
        .orderBy(col("window_start_ms"), col("event_type"))
    }),

    // Sliding event-time windows: 1-hour windows every 30 minutes —
    // each event lands in exactly two windows (explode of the two
    // candidate starts, then the same map-side-combinable agg as
    // tumbling; 2x row amplification is the inherent cost of overlap,
    // never a shuffle of whole windows).
    "events_sliding" -> ((s, d) =>
      ev(s, d)
        .withColumn("slot", expr("ts div 1800000000000"))
        .withColumn("k", explode(array(lit(0L), lit(1L))))
        .withColumn("window_start_ms", (col("slot") - col("k")) * 1800000L)
        .groupBy(col("window_start_ms"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("window_start_ms"), col("event_type"))),

    // Classic pivot: one row per user, one count column per event type
    // (explicit value list so the schema is static — a dynamic pivot
    // would need a driver-side distinct pass). Map-side-combinable
    // conditional aggregation, one shuffle on user_id.
    "pivot_agg" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      ev(s, d).groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
        .select(col("user_id") +: types.map(t => col(t).as(s"n_$t")): _*)
        .orderBy(col("user_id"))
    }),

    // Forward as-of with tolerance: every click enriched with the NEXT
    // purchase of the same user within one hour (µs granularity, like
    // asof_join). Same union+window shape as the backward variant — one
    // shuffle + one sort per key, no row multiplication, tolerance as a
    // pure post-projection.
    "asof_join_forward" -> ((s, d) => {
      val e = ev(s, d).withColumn("ts_us", expr("ts div 1000"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"), col("ts_us").as("p_ts"))
      graft.ops.AsOfJoin.asofJoinForward(clicks, purchases, "user_id",
          "ts_us", "p_ts", "p_id", Seq("p_id"), tolerance = Some(3600000000L))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("asof_p_id").as("asof_purchase_id"))
        .orderBy(col("event_id"))
    }),

    // Range join via bucketization: events matched to the overlapping
    // fixed-arithmetic intervals containing their event_id — an
    // equi-join on bucket id + residual predicate, NEVER the
    // BroadcastNestedLoop/cartesian plan Spark picks for raw
    // inequality joins. The oracle brute-forces the theta join.
    "range_join" -> ((s, d) => {
      val iv = s.range(0, 100).select(
        col("id").as("iid"),
        (col("id") * 150).as("lo"),
        (col("id") * 150 + 225).as("hi"))
      graft.ops.RangeJoin.pointInInterval(
          ev(s, d).select(col("event_id")), iv,
          "event_id", "lo", "hi", bucketWidth = 150L)
        .select(col("event_id"), col("iid"))
        .orderBy(col("event_id"), col("iid"))
    }),

    // Product quantization: per-subspace trained codebooks (rounded
    // Lloyd's, same discipline as the IVF quantizer) encode every
    // vector as m small codes — the embedding-compression scale path.
    // Encoding is a zero-shuffle projection against literal codebooks;
    // the oracle retrains the identical codebooks in SQL.
    "embedding_pq" -> ((s, d) =>
      graft.ops.Similarity.pqCodes(Tables.embeddings(s, d),
          m = PqM, k = PqK, iters = PqIters)
        .orderBy(col("vec_id"))),

    // Johnson-Lindenstrauss random projection 64 → 16 dims with a
    // seeded ±1/√16 md5-derived sign matrix: a zero-shuffle per-row
    // projection (the matrix is a literal, reproducible from the seed
    // by any engine — the oracle re-derives it in SQL). Gated in long
    // (vec_id, j, proj) form so every coordinate is value-checked.
    "embedding_random_projection" -> ((s, d) =>
      graft.ops.Projection.randomProjection(Tables.embeddings(s, d),
          "vec_id", "embedding", inDims = 64, outDims = RpOutDims)
        .select(col("id").as("vec_id"), posexplode(col("proj")))
        .select(col("vec_id"), col("pos").cast("long").as("j"),
          col("col").as("proj"))
        .orderBy(col("vec_id"), col("j"))),

    // Corpus covariance of the embedding column via the custom typed
    // Aggregator (O(dims²) buffer, map-side combined — never the
    // oracle's n·dims² explode-join, which is the cross-check only).
    // Gated in long (i, j, cov) form, full symmetric matrix.
    "embedding_covariance" -> ((s, d) => {
      val dims = 64
      val agg = udaf(new graft.ops.Moments.CovarianceAgg(dims),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())
      Tables.embeddings(s, d)
        .agg(agg(col("embedding").cast("array<double>")).as("c"))
        .select(posexplode(col("c")))
        .select(floor(col("pos") / dims).cast("long").as("i"),
          pmod(col("pos"), lit(dims)).cast("long").as("j"),
          col("col").as("cov"))
        .orderBy(col("i"), col("j"))
    }),

    // Top principal component: power iteration (3 rounds, 6-dp
    // discipline) on the collected covariance — a dims² trained
    // constant — then a zero-shuffle corpus projection onto the
    // literal component. The oracle re-runs the identical unrolled
    // iteration in SQL from its own covariance CTE.
    "embedding_pca_project" -> ((s, d) => {
      val dims = 64
      val agg = udaf(new graft.ops.Moments.CovarianceAgg(dims),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())
      val cov = Tables.embeddings(s, d)
        .agg(agg(col("embedding").cast("array<double>")).as("c"))
        .head.getSeq[Double](0)
      val pc = graft.ops.Moments.topComponent(cov, dims, iters = PcaIters)
      val pcLit = array(pc.map(lit): _*)
      Tables.embeddings(s, d).select(col("vec_id"),
        round(aggregate(
          zip_with(col("embedding").cast("array<double>"), pcLit,
            (x, w) => x * w),
          lit(0.0), (a, x) => a + x), 6).as("pc1"))
        .orderBy(col("vec_id"))
    }),

    // PQ-ADC search: per-query distance TABLES against the trained
    // codebooks (the asymmetric-distance trick), corpus scored by pure
    // code lookup — the billion-vector search shape; exact paths stay
    // the verification tier.
    "ann_pq_adc" -> ((s, d) =>
      graft.ops.Similarity.pqAdcTopK(Tables.embeddings(s, d),
          queryIds = Seq(0L, 1L, 2L), kNN = 5,
          m = PqM, k = PqK, iters = PqIters)
        .orderBy(col("qid"), col("rk"))),

    // Batch PQ-ADC: the whole query batch (one in every 7 corpus
    // vectors — ~70 queries at sf0.01) scored in ONE codes scan via a
    // literal lookup cube + posexplode, with two-phase bounded-heap
    // top-k — plan size and scan count independent of the batch size,
    // unlike the per-query variant's union-of-scans.
    // The id bound keeps the query BATCH fixed as the corpus scales
    // (kNN-join cost is O(Q·N): a fixed workload over a growing corpus
    // scales linearly; a batch growing WITH the corpus is quadratic).
    "ann_pq_adc_batch" -> ((s, d) =>
      graft.ops.Similarity.pqAdcTopKBatch(Tables.embeddings(s, d),
          queryPred = pmod(col("vec_id"), lit(7)) === 3 &&
            col("vec_id") < 2000, kNN = 5,
          m = PqM, k = PqK, iters = PqIters)
        .orderBy(col("qid"), col("rk"))),

    // Sketch aggregations with an honest gate: the oracle pins the
    // EXACT side and a sketch-within-tolerance flag (TRUE) — a drifting
    // HLL or quantile summary flips the flag and hash-mismatches. At
    // scale only the fixed-size mergeable sketches run.
    "sketch_distinct" -> ((s, d) =>
      graft.ops.Sketches.distinctGate(ev(s, d), "event_type", "user_id")
        .orderBy(col("event_type"))),

    "sketch_median" -> ((s, d) =>
      graft.ops.Sketches.medianGate(ev(s, d), "event_type", "value")
        .orderBy(col("event_type"))),

    // Heavy hitters: exact top-5 users by event count, each pinned
    // present in the Misra-Gries frequent-items sketch (no false
    // negatives above support — the 100 TB "top domains/users/tokens"
    // one-pass shape; see Sketches.topKItemsGate).
    "sketch_topk_items" -> ((s, d) =>
      graft.ops.Sketches.topKItemsGate(ev(s, d), "user_id", k = 5,
          support = 0.002)
        .orderBy(col("n").desc, col("user_id"))),

    // Stateful-shaped: gap-based sessionization (30 min) per user.
    "events_sessionize" -> ((s, d) => {
      // µs granularity on both sides: DuckDB's parquet reader truncates
      // TIMESTAMP(NANOS) to µs, so ordering/gap math must match that.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      ev(s, d)
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts_us") - col("prev_ts") > lit(1800000000L), 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // As-of join: each purchase enriched with the user's latest click
    // at-or-before it (composed union+window — no row-multiplication;
    // oracle is DuckDB's NATIVE ASOF JOIN, so the composition must
    // reproduce true as-of semantics exactly).
    "asof_join" -> ((s, d) => {
      val e = ev(s, d).withColumn("ts_us", expr("ts div 1000"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts_us").as("click_ts"), col("value").as("click_value"))
      graft.ops.AsOfJoin.asofJoin(
        purchases, clicks, "user_id", "ts_us", "click_ts", "click_id",
        Seq("click_id", "click_value"))
        .orderBy(col("event_id"))
    }),

    // Semi join: customers with at least one high-value order (EXISTS).
    "semi_join" -> ((s, d) => {
      val big = Tables.orders(s, d).where(col("o_totalprice") > 400000)
      Tables.customer(s, d)
        .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // Anti join: customers with no orders at all (NOT EXISTS).
    // Anti join: customers with no FINALIZED order. The status filter
    // keeps the result non-empty on the regenerated testdata (every
    // customer now has at least one order, so the unfiltered anti join
    // proved nothing — empty vs empty).
    "anti_join" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).where(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    // Rollup: subtotal hierarchy over returnflag/linestatus.
    "rollup_agg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // Cube: all grouping-set combinations over two dimensions.
    "cube_agg" -> ((s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // Set ops: high-value customer keys ∩/∖ recent-order customer keys.
    "set_ops" -> ((s, d) => {
      val rich = Tables.customer(s, d).where(col("c_acctbal") > 7000)
        .select(col("c_custkey").as("k"))
      val recent = Tables.orders(s, d)
        .where(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
        .select(col("o_custkey").as("k"))
      rich.intersect(recent).withColumn("op", lit("both"))
        .unionAll(rich.except(recent).withColumn("op", lit("rich_only")))
        .orderBy(col("op"), col("k"))
    }),

    // Distinct aggregation per stream.
    "distinct_agg" -> ((s, d) =>
      ev(s, d).groupBy(col("user_id"))
        .agg(countDistinct(col("event_type")).as("n_types"),
          dsum(col("value")).as("sum_value"))
        .orderBy(col("user_id"))),

    // --- LLM-data-pipeline operators --------------------------------

    // Exact dedup by content hash (scales: one shuffle on the hash).
    "dedup_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("dups"))
        .orderBy(col("fp"))),

    // Token / char counts (whitespace tokenization, portable form).
    "text_tokens" -> ((s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          col("n_chars"),
          length(col("text")).cast("long").as("len"),
          (length(col("text")) - length(regexp_replace(col("text"), lit(" "), lit(""))) + 1)
            .cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))),

    // Quality scoring: stopword ratio (token-boundary Gopher set, the
    // same counting qualityFilter gates on) + mean token length.
    "text_quality" -> ((s, d) => {
      val toks = (length(col("text")) -
        length(regexp_replace(col("text"), lit(" "), lit(""))) + 1).cast("double")
      val stopCount = graft.ops.TextAnalysis
        .tokenSetOccurrences(col("text"), graft.ops.Curation.Stopwords)
        .cast("double")
      Tables.documents(s, d)
        .select(col("doc_id"),
          toks.as("n_tokens"),
          stopCount.as("n_stop"),
          (stopCount / toks).as("stop_ratio"),
          (length(regexp_replace(col("text"), lit(" "), lit(""))).cast("double") / toks)
            .as("mean_tok_len"))
        .orderBy(col("doc_id"))
    }),

    // CCNet-style LM quality score: average bigram log-probability
    // under an add-k model TRAINED ON THE CORPUS (counts via two
    // map-side-combined aggregations, scoring via equi-joins of the
    // linear bigram stream against them). exp(-avg_logp) is the
    // perplexity; low scores surface gibberish / divergent documents.
    "text_lm_logprob" -> ((s, d) =>
      graft.ops.LanguageModel.bigramLogProb(Tables.documents(s, d),
          "text", "doc_id", k = 0.5)
        .select(col("id").as("doc_id"), col("n_bigrams"), col("avg_logp"))
        .orderBy(col("doc_id"))),

    // Table profiling: one aggregation pass -> per-column row/null/
    // distinct counts and value ranges in long form — the data-quality
    // pass every pipeline stage brackets its transforms with.
    "profile_documents" -> ((s, d) =>
      graft.ops.Profile.profile(Tables.documents(s, d),
          Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy(col("column"))),

    // The 100 TB profile shape: the SAME one-pass profile with HLL
    // (approx_count_distinct) in place of exact distinct counts,
    // gated by the Sketches discipline (ops/Sketches.scala doc): the
    // result carries the EXACT statistics plus a "sketch within 5% of
    // exact" flag that the oracle pins to TRUE — a drifting sketch
    // flips the flag and hash-mismatches. The exact side exists only
    // for the gate; at scale only the `exact = false` pass runs.
    "profile_documents_approx" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pcols = Seq("doc_id", "text", "lang", "source", "n_chars")
      val approx = graft.ops.Profile
        .profile(docs, pcols, exact = false, rsd = 0.01)
        .select(col("column"), col("n_distinct").as("n_approx"))
      graft.ops.Profile.profile(docs, pcols)
        .join(approx, "column")
        .select(col("column"), col("n_rows"), col("n_nulls"),
          col("n_distinct"),
          (abs(col("n_approx") - col("n_distinct")).cast("double") <=
            lit(0.05) * col("n_distinct").cast("double")).as("approx_ok"))
        .orderBy(col("column"))
    }),

    // Corpus-wide top bigrams (frequency-weighted, not per-doc
    // distinct): one explode + map-side-combined count + TakeOrdered
    // top-20 — the corpus-statistics pass of a pipeline report.
    "text_top_ngrams" -> ((s, d) =>
      graft.ops.Dedup.wordShinglesAll(Tables.documents(s, d), "text",
          "doc_id", 2)
        .select(col("sh").as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram").asc)
        .limit(20)),

    // Per-doc top-3 TF-IDF terms (keyword extraction) on the custom
    // bounded-heap TopKPerKey operator — no per-doc sort, no window.
    "text_tfidf_terms" -> ((s, d) =>
      graft.ops.Ranking.tfIdfTopTerms(Tables.documents(s, d), "text",
          "doc_id", topK = 3)
        .select(col("id").as("doc_id"), col("term"), col("tfidf"),
          col("rk").cast("long").as("rk"))
        .orderBy(col("doc_id"), col("rk"))),

    // Inverted-index build: per term df/cf plus a BOUNDED posting
    // sample (4 smallest doc ids with tf) on the bounded-heap
    // TopKPerKey operator — O(postK) heap state per term where a
    // collect_list would buffer a stopword's O(corpus) posting list.
    "text_inverted_index" -> ((s, d) =>
      graft.ops.Ranking.invertedIndex(Tables.documents(s, d), "text",
          "doc_id", postK = 4)
        .select(col("term"), col("df_t"), col("cf"),
          col("rk").cast("long").as("rk"), col("id"), col("tf"))
        .orderBy(col("term"), col("rk"))),

    // CCNet head/middle/tail perplexity bucketing: tertile thresholds
    // are trained constants from a bounded deterministic sample of LM
    // scores; the corpus-wide pass is a pure projection against two
    // literals (no global sort/ntile — that would range-shuffle the
    // full corpus to rank rows whose bucket needs two comparisons).
    "text_ppl_buckets" -> ((s, d) =>
      graft.ops.LanguageModel.perplexityBuckets(Tables.documents(s, d),
          "text", "doc_id", k = 0.5)
        .select(col("id").as("doc_id"), col("n_bigrams"), col("avg_logp"),
          col("bucket"))
        .orderBy(col("doc_id"))),

    // Shannon character entropy + alphabet size: model-free repetition
    // / gibberish signal. Per-row higher-order functions only — zero
    // shuffle at any corpus size.
    "text_entropy" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("len"),
          graft.ops.TextAnalysis.distinctChars(col("text")).as("n_alpha"),
          graft.ops.TextAnalysis.charEntropy(col("text")).as("entropy"))
        .orderBy(col("doc_id"))),

    // fasttext-style corpus-trained quality/language classifier:
    // multinomial Naive Bayes log-odds over whitespace tokens, trained
    // in-plan against the `lang == 'en'` label. Token-count agg is
    // vocab-bounded; scoring joins the linear token stream against the
    // broadcast weight table.
    "text_classifier" -> ((s, d) =>
      graft.ops.Classifier.logOddsScore(Tables.documents(s, d),
          "text", "doc_id", positive = col("lang") === "en")
        .select(col("id").as("doc_id"), col("n_tokens"), col("log_odds"),
          col("pred_pos"))
        .orderBy(col("doc_id"))),

    // BPE tokenizer-TRAINING statistics: the frequency-weighted
    // adjacent-pair counts the merge argmax reads. The corpus
    // collapses to its vocabulary first (one aggregation); pairs are
    // counted over DISTINCT words weighted by frequency — equivalent
    // to counting the raw corpus, at |vocab| cost. Top-20 by
    // (count desc, pair asc) is fully deterministic; the iterative
    // merge loop itself is spec-tested (BpeTrainSpec pins the
    // textbook low/lower/newest/widest merge sequence).
    "bpe_pair_stats" -> ((s, d) => {
      val words = graft.ops.BpeTrain.wordCounts(Tables.documents(s, d), "text")
        .select(graft.ops.BpeTrain.charSyms(col("word")).as("syms"), col("c"))
      graft.ops.BpeTrain.pairCounts(words)
        .orderBy(desc("cnt"), col("a"), col("b")).limit(20)
    }),

    // Per-document n-gram novelty: the fraction of the doc's distinct
    // word-3-grams whose first corpus occurrence (min doc id) is this
    // doc — the "how much of this is new text" curation signal. One
    // gram-keyed shuffle + one doc-keyed average, no pairs.
    "text_ngram_novelty" -> ((s, d) =>
      graft.ops.TextAnalysis.ngramNovelty(Tables.documents(s, d), "text",
          "doc_id", k = NoveltyK)
        .orderBy(col("doc_id"))),

    // Document fingerprint: md5 of whitespace-normalized lowercase text.
    "text_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(regexp_replace(lower(col("text")), lit("\\s+"), lit(" ")).cast("binary"))
            .as("fp"))
        .orderBy(col("doc_id"))),

    // Brute-force cosine top-k ANN over embeddings (the exact baseline;
    // LSH/IVF variants are the scale path — see graft.ops.Similarity).
    // Codegen'd dot/norm, per-query top-k via bounded heaps with ranks
    // from the heap pass (no Window operator).
    "ann_cosine_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.where(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.ops.Similarity.bruteForceTopK(e, q, 5)
        .orderBy(col("qid"), col("rk"))
    }),

    // SQ8 scalar-quantized top-k: the corpus as per-vector symmetric
    // int8 codes (curation_quantize_int8's exact quantizer), scored by
    // full-precision-vs-dequantized cosine — the per-vector scale
    // cancels, so scoring runs directly on the codes and the scan
    // reads 1/8th the float64 bytes. The compression tier between the
    // flat baseline (ann_cosine_topk) and PQ.
    "ann_sq8_topk" -> ((s, d) =>
      graft.ops.Similarity.sq8TopKBatch(Tables.embeddings(s, d),
          col("vec_id").isin(0, 1, 2), 5)
        .orderBy(col("qid"), col("rk"))),

    // Binary-quantization ANN (the 1-bit tier below SQ8): sign-bit
    // codes packed 64 dims/long, Hamming candidates by xor+popcount
    // (1/32nd the float32 scan bytes, pure integer ALU), exact cosine
    // re-rank of the BinRerank survivors through the shared refine
    // tail — the pgvector-bit / Milvus-BINARY shape.
    "ann_binary_hamming" -> ((s, d) =>
      graft.ops.Similarity.binaryHammingRefineTopKBatch(
          Tables.embeddings(s, d), col("vec_id").isin(0, 1, 2), 5,
          rerank = BinRerank, dims = BinDims)
        .orderBy(col("qid"), col("rk"))),

    // IVF + SQ8 composed ANN (the faiss `IVF…,SQ8` flavor): the
    // trained coarse quantizer prunes to nprobe lists per query, and
    // WITHIN the probed lists scoring is full-precision-query vs int8
    // codes (the per-vector scale cancels in the cosine) — PQ's
    // candidate-mass bound with SQ8's near-lossless recall. Oracle:
    // the shared IVF train/assign CTEs feeding the sq8 code chain.
    "ann_ivf_sq8" -> ((s, d) =>
      graft.ops.Similarity.ivfSq8TopKBatch(Tables.embeddings(s, d),
          col("vec_id").isin(0, 1, 2), 5,
          nlist = IvfLists, nprobe = IvfProbes, trainIters = IvfIters)
        .orderBy(col("qid"), col("rk"))),

    // Exact re-ranking refinement over IVF-PQ (the faiss RFlat
    // two-stage shape): ADC retrieves RefineR candidates per query,
    // exact cosine re-ranks ONLY those survivors — PQ's recall gap
    // closed at a rerank×Q raw-vector cost, never a flat scan.
    "ann_ivfpq_refine" -> ((s, d) =>
      graft.ops.Similarity.ivfPqRefineTopKBatch(Tables.embeddings(s, d),
          queryPred = col("vec_id").isin(0, 1, 2), kNN = 5,
          rerank = RefineR, nlist = IvfLists, nprobe = IvfPqProbes,
          trainIters = IvfIters, m = PqM, k = PqK, iters = PqIters)
        .orderBy(col("qid"), col("rk"))),

    // PERSISTENT OPQ IVF-PQ: the persisted index with the Givens
    // pre-rotation as frozen model state (_opq marker) — training,
    // encode, and the driver-side query rotation all happen in the
    // rotated space; raw vectors enter the index API unrotated and
    // are rotated exactly once. Completes the persistence matrix:
    // every in-session ANN variant (pq/residual/sq8/opq) persists.
    "ann_ivfpq_persistent_opq" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val isNew = graft.ops.Curation.hashBucket(col("vec_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val root =
        java.nio.file.Files.createTempDirectory("verify-annopq-")
      try {
        graft.ops.AnnIndex.seed(e.where(!isNew), root.toString,
          nlist = IvfLists, trainIters = IvfIters,
          m = PqM, k = PqK, pqIters = PqIters, opqSteps = OpqSteps)
        (0 until 3).foreach { c =>
          graft.ops.AnnIndex.append(
            e.where(isNew && pmod(col("vec_id"), lit(3)) === c),
            root.toString)
          if (c == 1)
            graft.ops.AnnIndex.compact(s, root.toString)
        }
        val qVecs = graft.ops.AnnIndex.collectQueryVecs(
          e.where(col("vec_id").isin(0, 1, 2)))
        graft.ops.AnnIndex.queryBatch(s, root.toString, qVecs,
            kNN = 5, nprobe = IvfPqProbes)
          .orderBy(col("qid"), col("rk"))
          .localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // Matryoshka two-stage retrieval: search in the 16 leading dims
    // (1/4 the arithmetic and, with a prefix column, 1/4 the scan
    // bytes), exact full-dim re-rank of the RefineR survivors — the
    // MRL retrieval shape, sharing the refine tail with ann_ivfpq_refine.
    "ann_matryoshka_refine" -> ((s, d) =>
      graft.ops.Similarity.matryoshkaRefineTopKBatch(
          Tables.embeddings(s, d), col("vec_id").isin(0, 1, 2),
          kNN = 5, rerank = RefineR, dims = MrlDims)
        .orderBy(col("qid"), col("rk"))),

    // PERSISTENT IVF+SQ8: the persisted index running the sq8 codec —
    // frozen seed-time centroids are the ONLY trained state (the int8
    // quantizer is per-vector and stateless), appends encode with the
    // frozen model, compaction and the probed-directory-only read are
    // the shared AnnIndex machinery. Oracle: the in-session sq8 chain
    // with the coarse training sample restricted to the seed corpus.
    "ann_ivfsq8_persistent" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val isNew = graft.ops.Curation.hashBucket(col("vec_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val root =
        java.nio.file.Files.createTempDirectory("verify-annsq8-")
      try {
        graft.ops.AnnIndex.seed(e.where(!isNew), root.toString,
          nlist = IvfLists, trainIters = IvfIters,
          m = PqM, k = PqK, pqIters = PqIters, codec = "sq8")
        (0 until 3).foreach { c =>
          graft.ops.AnnIndex.append(
            e.where(isNew && pmod(col("vec_id"), lit(3)) === c),
            root.toString)
          if (c == 1)
            graft.ops.AnnIndex.compact(s, root.toString)
        }
        val qVecs = graft.ops.AnnIndex.collectQueryVecs(
          e.where(col("vec_id").isin(0, 1, 2)))
        graft.ops.AnnIndex.queryBatch(s, root.toString, qVecs,
            kNN = 5, nprobe = IvfProbes)
          .orderBy(col("qid"), col("rk"))
          .localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // PERSISTENT BINARY-QUANTIZATION index: the bq codec on the same
    // generational store (seed/append/compact, frozen-model contract)
    // — sign-bit codes packed 1 bit/dim in the per-list directories
    // (the cheapest persisted code tier: 8 bytes per 64 dims),
    // Hamming-scored probe-bounded candidates, and the production
    // refine tail re-ranking BinRerank survivors by exact cosine
    // against the raw corpus. Completes the persisted-codec matrix:
    // PQ / residual-PQ / OPQ·PQ / SQ8 / BQ.
    "ann_ivfbq_persistent" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val isNew = graft.ops.Curation.hashBucket(col("vec_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val root =
        java.nio.file.Files.createTempDirectory("verify-annbq-")
      try {
        graft.ops.AnnIndex.seed(e.where(!isNew), root.toString,
          nlist = IvfLists, trainIters = IvfIters,
          m = PqM, k = PqK, pqIters = PqIters, codec = "bq")
        (0 until 3).foreach { c =>
          graft.ops.AnnIndex.append(
            e.where(isNew && pmod(col("vec_id"), lit(3)) === c),
            root.toString)
          if (c == 1)
            graft.ops.AnnIndex.compact(s, root.toString)
        }
        val qVecs = graft.ops.AnnIndex.collectQueryVecs(
          e.where(col("vec_id").isin(0, 1, 2)))
        graft.ops.AnnIndex.queryBatchRefined(s, root.toString, e, qVecs,
            kNN = 5, rerank = BinRerank, nprobe = IvfProbes)
          .orderBy(col("qid"), col("rk"))
          .localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // OPQ-lite: a deterministic Givens rotation (exact-rational
    // angles) mixes coordinates across PQ subspace boundaries before
    // the standard train/encode/ADC chain — the Ge et al. 2013
    // pre-rotation as a zero-shuffle projection, composed entirely
    // in-engine. Oracle: the same chained rotation CTEs feeding the
    // proven PQ codebook chain.
    "ann_opq_pq" -> ((s, d) => {
      val rot = graft.ops.Similarity.opqRotate(
          Tables.embeddings(s, d), "embedding", "rve", OpqSteps)
        .select(col("vec_id"), col("rve").as("embedding"))
      graft.ops.Similarity.pqAdcTopKBatch(rot,
          col("vec_id").isin(0, 1, 2), 5,
          m = PqM, k = PqK, iters = PqIters)
        .orderBy(col("qid"), col("rk"))
    }),

    // MinHash + LSH near-duplicate detection (full pipeline: word
    // 3-shingles → 8 minhashes → 4 bands → candidate join → exact
    // Jaccard verify). md5-based hashes so the oracle can mirror them.
    "dedup_minhash_lsh" -> ((s, d) =>
      graft.ops.Dedup.minhashLsh(Tables.documents(s, d), "text", "doc_id")
        .orderBy(col("a"), col("b"))),

    // Incremental MinHash-LSH: a ~10% "new batch" (deterministic md5
    // bucket) probes the corpus band index — pairs touching a new doc
    // only, the per-ingest shape of production dedup (no corpus
    // self-join). The band index comes from the session-cached
    // SIGNATURE STORE (StoreProvider.minhashBandIndexFor — production
    // builds it once, probes read it), and verification re-shingles
    // only candidate documents; result identical to the self-contained
    // minhashLshIncremental (OpsSpec pins it), same oracle.
    "dedup_minhash_incremental" -> ((s, d) =>
      graft.ops.Dedup.minhashLshIncrementalIndexed(Tables.documents(s, d),
          StoreProvider.minhashBandIndexFor(s, d),
          "text", "doc_id",
          graft.ops.Curation.hashBucket(col("doc_id"), IncrementalSeed)
            < lit(IncrementalNewBp))
        .orderBy(col("a"), col("b"))),

    // Duplicated-substring spans — the exact-substring dedup tier
    // (suffix-array semantics, distributed via positional word k-gram
    // anchors): maximal runs of consecutive 8-grams each occurring in
    // ≥2 distinct documents, i.e. the boilerplate spans an
    // exact-substring pass would cut from otherwise-unique documents.
    "dedup_substring_spans" -> ((s, d) =>
      graft.ops.Dedup.substringDupSpans(Tables.documents(s, d),
          "text", "doc_id", k = SubstrK, minRun = SubstrMinRun)
        .orderBy(col("doc_id"), col("start_pos"))),

    // Boilerplate strip — the CONSUMPTION side of the span pass: cut
    // every duplicated-substring span from the text itself (headers /
    // licenses shared verbatim go everywhere they appear), keep every
    // document (a fully-boilerplate doc keeps empty text and
    // kept_tokens 0 for a downstream quality filter to drop).
    "dedup_substring_strip" -> ((s, d) =>
      graft.ops.Dedup.substringStrip(Tables.documents(s, d),
          "text", "doc_id", k = SubstrK, minRun = SubstrMinRun)
        .orderBy(col("doc_id"))),

    // Exact n-gram Jaccard ≥ 0.8 — the VERIFICATION path, gated by a
    // posting-list cap (maxDf) so the self-join has a candidate-pair
    // budget; minhash_lsh above is the headline discovery path.
    "dedup_ngram_jaccard" -> ((s, d) =>
      graft.ops.Dedup.ngramJaccard(Tables.documents(s, d), "text", "doc_id",
          maxDf = NgramMaxDf)
        .orderBy(col("a"), col("b"))),

    // Shingle CONTAINMENT ≥ 0.5: |A∩B| / min(|A|,|B|) — the asymmetric
    // measure that catches subset-duplicates (short doc quoted whole
    // in a long one) which Jaccard dilutes below any usable threshold.
    // Same inverted-index + maxDf posting cap as the Jaccard verify.
    "dedup_containment" -> ((s, d) =>
      graft.ops.Dedup.ngramContainment(Tables.documents(s, d), "text",
          "doc_id", threshold = 0.5, maxDf = NgramMaxDf)
        .orderBy(col("a"), col("b"))),

    // LSH-FIRST containment — the 100 TB tier: candidates from the
    // SAME minhash band geometry as dedup_minhash_lsh (one band index
    // serves every measure), exact |A∩B|/min verified on the
    // candidate-restricted shingles only. Never a posting self-join;
    // the exact tier above stays the subset-duplicate catcher at
    // posting-cap cost (band agreement tracks Jaccard, so
    // high-containment/low-Jaccard extremes need the exact pass).
    "dedup_containment_lsh" -> ((s, d) =>
      graft.ops.Dedup.ngramContainmentLsh(Tables.documents(s, d), "text",
          "doc_id", threshold = 0.5)
        .orderBy(col("a"), col("b"))),

    // Incremental containment against the SAME session-cached band
    // index the minhash incremental tier probes — one store, one probe
    // plan, every measure: the ingest batch's bands probe the index,
    // and containment >= 0.5 verifies on candidate re-shingles only.
    "dedup_containment_incremental" -> ((s, d) =>
      graft.ops.Dedup.containmentIncrementalIndexed(Tables.documents(s, d),
          StoreProvider.minhashBandIndexFor(s, d),
          "text", "doc_id",
          graft.ops.Curation.hashBucket(col("doc_id"), IncrementalSeed)
            < lit(IncrementalNewBp),
          threshold = 0.5)
        .orderBy(col("a"), col("b"))),

    // SimHash 16-bit fingerprints per document.
    "dedup_simhash" -> ((s, d) =>
      graft.ops.Dedup.simhash(Tables.documents(s, d), "text", "doc_id")
        .select(col("id").as("doc_id"), col("simhash"))
        .orderBy(col("doc_id"))),

    // SimHash near-dup pairs: banded hamming buckets (exact for
    // distance <= bands-1 by pigeonhole), verified with hammingDistance.
    // Gated at the library default — the canonical Manku et al. WWW'07
    // config (64-bit shingled fingerprints, hamming <= 3, 4 bands of
    // 16-BIT keys): 65k buckets per band, growing with the corpus.
    // The 32-bit/8-bit-band config this query once ran caps every band
    // at 256 buckets and goes quadratic (BENCH_r09: 28.8× at 10×) — it
    // survives only as the bench's `simhash32_candidate_ratio`
    // small-corpus diagnostic, never as a gated query.
    "dedup_simhash_pairs" -> ((s, d) =>
      graft.ops.Dedup.simhashPairs(Tables.documents(s, d), "text", "doc_id")
        .orderBy(col("a"), col("b"))),

    // 128-bit fingerprints (4 chained seeded hashes) — the top of the
    // production range: 8 bands of 16-BIT keys (65k buckets per band,
    // growing with the corpus), exact to hamming 7 — the same distance
    // bar as the 64-bit variant with twice the fingerprint entropy, so
    // random band collisions halve. (16 bands of 8-bit keys would be
    // exact to hamming 15 but cap each band at 256 buckets — the
    // quadratic-bucket trap the banding scaladoc warns about.)
    "dedup_simhash_pairs_128" -> ((s, d) =>
      graft.ops.Dedup.simhashPairs(Tables.documents(s, d), "text", "doc_id",
          bits = 128, bands = 8, maxDistance = 7)
        .orderBy(col("a"), col("b"))),

    // Winnowing fingerprints (MOSS): rightmost-minimal k-gram hash per
    // w-window — position-aware local-similarity selections at density
    // ~2/(w+1); any >= w+k-1-token shared passage yields a shared fp.
    // Pure per-row HOFs, zero shuffle.
    "dedup_winnow" -> ((s, d) =>
      graft.ops.Dedup.winnowFingerprints(Tables.documents(s, d), "text",
          "doc_id")
        .select(col("id").as("doc_id"), col("pos"), col("fp"))
        .orderBy(col("doc_id"), col("pos"), col("fp"))),

    // Shared-passage pairs from the winnowing index: docs sharing >= 2
    // selected fingerprints — the quoted-passage detector; candidate
    // work is bounded by fingerprint-bucket sizes (equi-join on fp),
    // never all pairs.
    "dedup_winnow_pairs" -> ((s, d) => {
      val fps = graft.ops.Dedup.winnowFingerprints(Tables.documents(s, d),
        "text", "doc_id").select(col("id"), col("fp")).distinct()
      fps.select(col("id").as("a"), col("fp"))
        .join(fps.select(col("id").as("b"), col("fp")), "fp")
        .where(col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("shared_fps"))
        .where(col("shared_fps") >= 2)
        .orderBy(col("a"), col("b"))
    }),

    // Incremental winnowing: the same ~10% "new batch" probes the
    // corpus winnow-fingerprint index — shared-passage pairs touching
    // a new doc only, no historical self-join.
    "dedup_winnow_incremental" -> ((s, d) =>
      graft.ops.Dedup.winnowPairsIncremental(Tables.documents(s, d),
          "text", "doc_id",
          graft.ops.Curation.hashBucket(col("doc_id"), IncrementalSeed)
            < lit(IncrementalNewBp))
        .orderBy(col("a"), col("b"))),

    // Incremental SimHash: the ~10% "new batch" (same deterministic
    // md5 bucket as dedup_minhash_incremental) probes the corpus band
    // index at the headline 64-bit/16-bit-key config — near-dup pairs
    // touching a new doc only, no corpus self-join; the streaming-
    // ingest counterpart of dedup_simhash_pairs.
    "dedup_simhash_incremental" -> ((s, d) =>
      graft.ops.Dedup.simhashPairsIncremental(Tables.documents(s, d),
          "text", "doc_id",
          graft.ops.Curation.hashBucket(col("doc_id"), IncrementalSeed)
            < lit(IncrementalNewBp))
        .orderBy(col("a"), col("b"))),

    // Language identification via marker-token scoring.
    "text_langid" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          graft.ops.TextAnalysis.langId(col("text")).as("pred_lang"),
          graft.ops.TextAnalysis.langScore(col("text"), "en").as("score_en"))
        .orderBy(col("doc_id"))),

    // Exact dedup under skew: two-phase salted aggregation — identical
    // result to dedup_exact (same oracle), hot keys spread over salts.
    "dedup_exact_salted" -> ((s, d) =>
      graft.ops.Skew.exactDedupSalted(Tables.documents(s, d), "text", "doc_id")
        .orderBy(col("fp"))),

    // IVF-style ANN: coarse centroids + inverted-list probe.
    "ann_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.where(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.ops.Similarity.ivfTopK(e, q, 5, nlist = IvfLists, nprobe = IvfProbes,
          trainIters = IvfIters)
        .orderBy(col("qid"), col("rk"))
    }),

    // IVF with the hash-sampled quantizer: identical search path, but
    // the k-means training sample is the md5-bucket 20% sample instead
    // of the id prefix — unbiased on corpora where id correlates with
    // content (ingest order), and just as oracle-reproducible.
    "ann_ivf_hash" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.where(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.ops.Similarity.ivfTopK(e, q, 5, nlist = IvfLists, nprobe = IvfProbes,
          trainIters = IvfIters, sampleMode = "hash")
        .orderBy(col("qid"), col("rk"))
    }),

    // IVF-PQ composed ANN — the production stack: the trained coarse
    // quantizer prunes to nprobe inverted lists per query, PQ-ADC
    // lookup distances WITHIN the probed lists, bounded-heap top-k.
    // Candidate mass per query is the probed lists' size, not the
    // corpus; the corpus side reads only the code columns + list id.
    "ann_ivf_pq" -> ((s, d) =>
      graft.ops.Similarity.ivfPqTopKBatch(Tables.embeddings(s, d),
          queryPred = col("vec_id").isin(0, 1, 2), kNN = 5,
          nlist = IvfLists, nprobe = IvfPqProbes, trainIters = IvfIters,
          m = PqM, k = PqK, iters = PqIters)
        .orderBy(col("qid"), col("rk"))),

    // RESIDUAL IVF-PQ (classical IVFADC): the PQ books quantize
    // x − centroid(list(x)) instead of raw x — residuals concentrate
    // near the origin so the same m×k budget quantizes a smaller cell
    // of the space; this is the variant production vector stores run.
    // Encoding subtracts each row's own list centroid via zip_with
    // against a cid→centroid map literal (still zero-shuffle); the ADC
    // tables are per (query, probed list) since the query residual
    // differs per list. Oracle: the shared coarse chain + residual
    // relations feeding the same PQ codebook CTEs.
    "ann_ivf_pq_residual" -> ((s, d) =>
      graft.ops.Similarity.ivfPqResidualTopKBatch(Tables.embeddings(s, d),
          queryPred = col("vec_id").isin(0, 1, 2), kNN = 5,
          nlist = IvfLists, nprobe = IvfPqProbes, trainIters = IvfIters,
          m = PqM, k = PqK, iters = PqIters)
        .orderBy(col("qid"), col("rk"))),

    // PERSISTENT IVF-PQ: the index is seeded once from the at-rest
    // (old-split) corpus — quantizers trained and FROZEN, codes laid
    // out one directory per inverted list under a GenIndex root — then
    // the new split arrives as three frozen-model appends with a
    // reader-safe generational compaction in between, and the query
    // batch is served from the MANIFEST-RESOLVED generation reading
    // ONLY its probed list directories. This is the ANN counterpart of
    // the streaming dedup family's persistent signature index (the
    // reference's build-index-on-segment-seal shape,
    // writer_thread_pool.rs:698-793): in-session retrain-per-query is
    // the scale-killer this removes at 100 TB. Oracle: the composed
    // IVF-PQ chain with the training sample restricted to the seed
    // corpus (assignment/codes still over the full corpus — exactly
    // the frozen-model append semantics).
    "ann_ivfpq_persistent" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val isNew = graft.ops.Curation.hashBucket(col("vec_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val root =
        java.nio.file.Files.createTempDirectory("verify-annix-")
      try {
        graft.ops.AnnIndex.seed(e.where(!isNew), root.toString,
          nlist = IvfLists, trainIters = IvfIters,
          m = PqM, k = PqK, pqIters = PqIters)
        (0 until 3).foreach { c =>
          graft.ops.AnnIndex.append(
            e.where(isNew && pmod(col("vec_id"), lit(3)) === c),
            root.toString)
          if (c == 1)
            graft.ops.AnnIndex.compact(s, root.toString)
        }
        val qVecs = graft.ops.AnnIndex.collectQueryVecs(
          e.where(col("vec_id").isin(0, 1, 2)))
        // materialize BEFORE the finally deletes the index dirs — the
        // lazy plan reads the persisted generation
        graft.ops.AnnIndex.queryBatch(s, root.toString, qVecs,
            kNN = 5, nprobe = IvfPqProbes)
          .orderBy(col("qid"), col("rk"))
          .localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // PERSISTENT RESIDUAL IVF-PQ: the persisted index running the
    // classical IVFADC encoding — PQ books trained on the seed
    // corpus's residuals, every append encoding x − centroid(list(x))
    // with the frozen model, queries building per-(query, probed list)
    // ADC tables against the manifest-resolved generation. The
    // production composition: generational persistence AND residual
    // quantization in one index.
    "ann_ivfpq_persistent_residual" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val isNew = graft.ops.Curation.hashBucket(col("vec_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val root =
        java.nio.file.Files.createTempDirectory("verify-annxr-")
      try {
        graft.ops.AnnIndex.seed(e.where(!isNew), root.toString,
          nlist = IvfLists, trainIters = IvfIters,
          m = PqM, k = PqK, pqIters = PqIters, residual = true)
        (0 until 3).foreach { c =>
          graft.ops.AnnIndex.append(
            e.where(isNew && pmod(col("vec_id"), lit(3)) === c),
            root.toString)
          if (c == 1)
            graft.ops.AnnIndex.compact(s, root.toString)
        }
        val qVecs = graft.ops.AnnIndex.collectQueryVecs(
          e.where(col("vec_id").isin(0, 1, 2)))
        graft.ops.AnnIndex.queryBatch(s, root.toString, qVecs,
            kNN = 5, nprobe = IvfPqProbes)
          .orderBy(col("qid"), col("rk"))
          .localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // TOMBSTONE DELETES on the persistent index — the LSM delete
    // discipline (deletes are writes; queries mask, compaction
    // applies): a deterministic ~5% victim set is deleted in two
    // waves, seed-side victims BEFORE a compaction (so the gate pins
    // physical removal — their rows are gone from the new
    // generation's codes) and append-side victims AFTER it (so the
    // gate pins the query-time tombstone mask on the probed slice).
    // Oracle: the persistent chain with deleted ids excluded from the
    // candidate set — frozen-model training is UNCHANGED by deletes
    // (quantizers never retrain on delete, like every real IVF store).
    // FILTERED vector search on the persistent index (the faiss
    // IDSelector / predicate-filtered-ANN shape every vector store
    // serves): a deterministic ~80% allow-set PRE-filters the probed
    // candidate slice by one semi-join before scoring — filtered
    // top-k == post-filtered full ranking by construction (scoring is
    // per-candidate independent; spec-pinned), only allowed rows are
    // ever scored, and the filter relation is never collected. Oracle:
    // the persistent chain with disallowed ids excluded from the
    // candidate CTE only (a filter, like a delete, never retrains the
    // frozen model).
    "ann_ivfpq_persistent_filtered" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val isNew = graft.ops.Curation.hashBucket(col("vec_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val isAllowed = graft.ops.Curation.hashBucket(col("vec_id"),
        FilterSeed) >= lit(FilterBp)
      val root =
        java.nio.file.Files.createTempDirectory("verify-annixflt-")
      try {
        graft.ops.AnnIndex.seed(e.where(!isNew), root.toString,
          nlist = IvfLists, trainIters = IvfIters,
          m = PqM, k = PqK, pqIters = PqIters)
        (0 until 3).foreach { c =>
          graft.ops.AnnIndex.append(
            e.where(isNew && pmod(col("vec_id"), lit(3)) === c),
            root.toString)
          if (c == 1)
            graft.ops.AnnIndex.compact(s, root.toString)
        }
        val qVecs = graft.ops.AnnIndex.collectQueryVecs(
          e.where(col("vec_id").isin(0, 1, 2)))
        graft.ops.AnnIndex.queryBatch(s, root.toString, qVecs,
            kNN = 5, nprobe = IvfPqProbes,
            allowed = Some(e.where(isAllowed).select("vec_id")))
          .orderBy(col("qid"), col("rk"))
          .localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // FILTERED + REFINED retrieval — the production RAG query shape
    // ("top-k among documents matching a predicate, exactly
    // re-ranked") as one composition of three proven parts: the
    // persistent index's probe-bounded read, the IDSelector semi-join
    // on the probed slice, and the shared exact-refine tail re-ranking
    // the (already-filtered) survivors. Oracle: the filtered
    // persistent chain + the shared refine CTEs.
    "ann_ivfpq_filtered_refine" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val isNew = graft.ops.Curation.hashBucket(col("vec_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val isAllowed = graft.ops.Curation.hashBucket(col("vec_id"),
        FilterSeed) >= lit(FilterBp)
      val root =
        java.nio.file.Files.createTempDirectory("verify-annfltr-")
      try {
        graft.ops.AnnIndex.seed(e.where(!isNew), root.toString,
          nlist = IvfLists, trainIters = IvfIters,
          m = PqM, k = PqK, pqIters = PqIters)
        (0 until 3).foreach { c =>
          graft.ops.AnnIndex.append(
            e.where(isNew && pmod(col("vec_id"), lit(3)) === c),
            root.toString)
          if (c == 1)
            graft.ops.AnnIndex.compact(s, root.toString)
        }
        val qVecs = graft.ops.AnnIndex.collectQueryVecs(
          e.where(col("vec_id").isin(0, 1, 2)))
        graft.ops.AnnIndex.queryBatchRefined(s, root.toString, e,
            qVecs, kNN = 5, rerank = RefineR, nprobe = IvfPqProbes,
            allowed = Some(e.where(isAllowed).select("vec_id")))
          .orderBy(col("qid"), col("rk"))
          .localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    "ann_ivfpq_persistent_delete" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val isNew = graft.ops.Curation.hashBucket(col("vec_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val isDel = graft.ops.Curation.hashBucket(col("vec_id"),
        DeleteSeed) < lit(DeleteBp)
      val root =
        java.nio.file.Files.createTempDirectory("verify-annixdel-")
      try {
        graft.ops.AnnIndex.seed(e.where(!isNew), root.toString,
          nlist = IvfLists, trainIters = IvfIters,
          m = PqM, k = PqK, pqIters = PqIters)
        graft.ops.AnnIndex.append(
          e.where(isNew && pmod(col("vec_id"), lit(3)) === 0),
          root.toString)
        graft.ops.AnnIndex.delete(
          e.where(isDel && !isNew).select("vec_id"), root.toString)
        graft.ops.AnnIndex.compact(s, root.toString)
        graft.ops.AnnIndex.append(
          e.where(isNew && pmod(col("vec_id"), lit(3)) === 1),
          root.toString)
        graft.ops.AnnIndex.append(
          e.where(isNew && pmod(col("vec_id"), lit(3)) === 2),
          root.toString)
        graft.ops.AnnIndex.delete(
          e.where(isDel && isNew).select("vec_id"), root.toString)
        val qVecs = graft.ops.AnnIndex.collectQueryVecs(
          e.where(col("vec_id").isin(0, 1, 2)))
        graft.ops.AnnIndex.queryBatch(s, root.toString, qVecs,
            kNN = 5, nprobe = IvfPqProbes)
          .orderBy(col("qid"), col("rk"))
          .localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // RESEED (model refresh): the persistent index built the usual
    // way (seed on the old split + three appends — by then the model
    // was trained on ~80% of what the index holds), then
    // AnnIndex.reseed retrains on the CURRENT full corpus, re-encodes
    // into a new generation and atomically flips the manifest. A
    // reseed on corpus C == a fresh seed of C bit-for-bit (training
    // is a pure function of the corpus — AnnIndexSpec pins it, plus
    // old-generation reader safety during the flip), so the ORACLE is
    // the plain full-corpus-trained IVF-PQ chain (ivfPqOracle), NOT
    // the persistent oracle's old-split training restriction.
    "ann_ivfpq_reseed" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val isNew = graft.ops.Curation.hashBucket(col("vec_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val root =
        java.nio.file.Files.createTempDirectory("verify-annrsd-")
      try {
        graft.ops.AnnIndex.seed(e.where(!isNew), root.toString,
          nlist = IvfLists, trainIters = IvfIters,
          m = PqM, k = PqK, pqIters = PqIters)
        (0 until 3).foreach { c =>
          graft.ops.AnnIndex.append(
            e.where(isNew && pmod(col("vec_id"), lit(3)) === c),
            root.toString)
        }
        graft.ops.AnnIndex.reseed(e, root.toString,
          nlist = IvfLists, trainIters = IvfIters,
          m = PqM, k = PqK, pqIters = PqIters)
        val qVecs = graft.ops.AnnIndex.collectQueryVecs(
          e.where(col("vec_id").isin(0, 1, 2)))
        graft.ops.AnnIndex.queryBatch(s, root.toString, qVecs,
            kNN = 5, nprobe = IvfPqProbes)
          .orderBy(col("qid"), col("rk"))
          .localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // Reseed × codec: reseed is codec-generic (ONE trainModel behind
    // seed and reseed — the matrix exists by construction), gated
    // here on the cheapest non-PQ codec so the discipline "every
    // persisted-codec cell gated or spec-pinned" covers the reseed
    // column too; AnnIndexSpec pins reseed == fresh seed bit-for-bit
    // for sq8/bq/opq. Oracle = the full-corpus sq8 oracle (reseed
    // trains on the current corpus, so the trained state matches a
    // fresh seed's).
    "ann_ivfsq8_reseed" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val isNew = graft.ops.Curation.hashBucket(col("vec_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val root =
        java.nio.file.Files.createTempDirectory("verify-annrsq8-")
      try {
        graft.ops.AnnIndex.seed(e.where(!isNew), root.toString,
          nlist = IvfLists, trainIters = IvfIters,
          m = PqM, k = PqK, pqIters = PqIters, codec = "sq8")
        (0 until 3).foreach { c =>
          graft.ops.AnnIndex.append(
            e.where(isNew && pmod(col("vec_id"), lit(3)) === c),
            root.toString)
        }
        graft.ops.AnnIndex.reseed(e, root.toString,
          nlist = IvfLists, trainIters = IvfIters,
          m = PqM, k = PqK, pqIters = PqIters, codec = "sq8")
        val qVecs = graft.ops.AnnIndex.collectQueryVecs(
          e.where(col("vec_id").isin(0, 1, 2)))
        graft.ops.AnnIndex.queryBatch(s, root.toString, qVecs,
            kNN = 5, nprobe = IvfProbes)
          .orderBy(col("qid"), col("rk"))
          .localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // STREAMING ANN ingest: the index-maintenance shape a live vector
    // store runs — new embeddings arrive as EVENTS through the real
    // append path (vector ids in the payload, the vector store holds
    // the floats), each micro-batch pulls its vectors and appends
    // their frozen-model codes into the persistent AnnIndex (one file
    // per touched inverted list), with a reader-safe generational
    // compaction mid-stream (StreamCompactEvery); the query batch is then served from
    // the manifest-resolved generation. Because the frozen-model
    // encode is batching-invariant (AnnIndexSpec), the final index is
    // bit-identical to ann_ivfpq_persistent's three-append build, so
    // the ORACLE IS THE SAME — what this leg adds to the gate is the
    // composition: GraftEventSource streaming + store append path +
    // AnnIndex maintenance, end-to-end.
    "stream_ann_ingest" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val isNew = graft.ops.Curation.hashBucket(col("vec_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val ves = StoreProvider.embStoreFor(s, d, isNew)
      val root =
        java.nio.file.Files.createTempDirectory("verify-sannix-")
      try {
        graft.ops.AnnIndex.seed(e.where(!isNew), root.toString,
          nlist = IvfLists, trainIters = IvfIters,
          m = PqM, k = PqK, pqIters = PqIters)
        val batchNo = new java.util.concurrent.atomic.AtomicInteger(0)
        drainStream(
            ingestFeed(ves),
            "verify-sannix-ck-",
            perBatch = { b =>
              val ids = b.select(
                expr("CAST(substring(stream_id, 5, 30) AS BIGINT)")
                  .as("arr_id"))
              graft.ops.AnnIndex.append(
                e.join(ids, e("vec_id") === ids("arr_id"), "left_semi"),
                root.toString)
              if (batchNo.incrementAndGet() % StreamCompactEvery == 0)
                graft.ops.AnnIndex.compact(s, root.toString)
              ids.groupBy().count()
            }) { r => r.getAs[Long](0) }
        val qVecs = graft.ops.AnnIndex.collectQueryVecs(
          e.where(col("vec_id").isin(0, 1, 2)))
        graft.ops.AnnIndex.queryBatch(s, root.toString, qVecs,
            kNN = 5, nprobe = IvfPqProbes)
          .orderBy(col("qid"), col("rk"))
          .localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // Embedding-cosine near-duplicate pairs (banded multi-table LSH +
    // exact verify), the semantic-dedup counterpart of minhash:
    // 16-plane signatures (65k buckets/table), 3 tables for recall,
    // over-dense buckets dropped.
    "dedup_embedding_cosine" -> ((s, d) =>
      graft.ops.Similarity.cosineNearDupPairs(Tables.embeddings(s, d),
          NearDupThreshold,
          planes = NearDupPlanes, tables = NearDupTables, maxBucket = NearDupMaxBucket)
        .orderBy(col("a"), col("b"))),

    // SemDeDup: cluster-partitioned semantic dedup — the learned-
    // structure counterpart of dedup_embedding_cosine's random-
    // projection LSH. Same trained quantizer as ann_ivf; per-vector
    // keep/drop verdict against the cluster's broadcast anchor set.
    "dedup_semantic" -> ((s, d) =>
      graft.ops.Similarity.semanticDedup(Tables.embeddings(s, d),
          SemThreshold, nlist = IvfLists, trainIters = IvfIters,
          maxAnchors = SemAnchors)
        .orderBy(col("vec_id"))),

    // BPE-ish subword token counting (regex pre-tokenizer shape).
    "text_bpe_tokens" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.bpeTokenCount(col("text")).as("n_subtokens"))
        .orderBy(col("doc_id"))),

    // BPE APPLY: the trained tokenizer ENCODING the corpus — the
    // missing half of the tokenizer story (BpeTrain.trainBpe learns
    // the merges; this runs them over every document, the pass
    // between tokenizer training and sequence packing). Train
    // BpeEncodeMerges merges, then ONE codegen'd chained-replace
    // projection tokenizes the corpus (zero shuffle — see
    // BpeTrain.bpeEncode); token counts pinned corpus-wide, full
    // encoded sequences pinned on the doc_id < 20 sample. The oracle
    // replays the identical training argmax loop as unrolled CTEs
    // and the identical leftmost-non-overlapping merge rule via
    // literal replace on the sentinel-wrapped symbol form.
    "text_bpe_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges =
        graft.ops.BpeTrain.trainBpe(docs, "text", BpeEncodeMerges)
      graft.ops.BpeTrain.bpeEncode(docs, "text", "doc_id", merges,
          samplePred = col("doc_id") < 20)
        .orderBy(col("doc_id"))
    }),

    // The VOCAB-JOIN encode (bpeEncode's production swap for 30k+
    // merge tables: encode the distinct-word vocabulary once, join
    // the token stream back) — result-identical to text_bpe_encode
    // by construction, so it shares that gate's ORACLE verbatim; what
    // this leg gates is the swap itself (vocab encode + join + ordered
    // sequence reassembly).
    "text_bpe_encode_vocab" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges =
        graft.ops.BpeTrain.trainBpe(docs, "text", BpeEncodeMerges)
      graft.ops.BpeTrain.bpeEncodeVocab(docs, "text", "doc_id", merges,
          samplePred = col("doc_id") < 20)
        .orderBy(col("doc_id"))
    }),

    // FOLD encode (bpeEncodeVocabFold): the PRODUCTION-DEPTH apply —
    // the merge table travels as closure data over a typed per-word
    // fold of the distinct vocabulary (plan size O(1) in merge
    // count), where BOTH chained-replace expression shapes die of
    // plan depth between 512 and 2048 merges (bpe_depth measurement:
    // Catalyst stack overflow). Result-identical at any depth by
    // construction (one applyMerge rule behind trainer and encoder),
    // so it shares text_bpe_encode's oracle verbatim; what this leg
    // gates is the third physical shape of the one operator.
    "text_bpe_encode_fold" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges =
        graft.ops.BpeTrain.trainBpe(docs, "text", BpeEncodeMerges)
      graft.ops.BpeTrain.bpeEncodeVocabFold(docs, "text", "doc_id",
          merges, samplePred = col("doc_id") < 20)
        .orderBy(col("doc_id"))
    }),

    // PERSISTED TOKENIZER (BpeStore): train once, publish
    // generation-addressed (merge table + encoded-vocabulary cache
    // under a GenIndex manifest, atomic flip — AnnIndex's model
    // lifecycle for the one LLM-pipeline artifact that lived only as
    // an in-session merge list), then encode the corpus through a
    // FRESH reader of the persisted artifact. Production trains a
    // tokenizer once and ships it; this leg gates the full
    // train → persist → reload → encode round trip, and shares
    // text_bpe_encode's oracle verbatim — persistence changes where
    // the tokenizer lives, never what it returns.
    "text_bpe_persistent" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val root = java.nio.file.Files.createTempDirectory("verify-bpe-")
      try {
        graft.ops.BpeStore.seed(docs, root.toString, BpeEncodeMerges)
        // materialize BEFORE the finally deletes the store — the lazy
        // plan reads the persisted generation
        graft.ops.BpeStore.encode(docs, root.toString,
            samplePred = col("doc_id") < 20)
          .orderBy(col("doc_id"))
          .localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // STREAMING tokenization with the PERSISTED tokenizer — the
    // tokenize-the-firehose shape: train once on the corpus era,
    // publish generation 0, then documents arrive as EVENTS through
    // the real append path and every micro-batch is encoded against
    // ONE resolved generation (BpeStore.resolve at stream start —
    // merges collected once, vocab cache localCheckpointed once; a
    // reseed flipping mid-stream cannot retokenize half the feed).
    // Per-doc encode is a pure function of (text, frozen merges), so
    // the result is batch-division-invariant and equals the batch
    // encode restricted to the streamed docs: the ORACLE IS
    // text_bpe_encode's, restricted to the isNew ingest subset.
    "stream_bpe_encode" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val isNew = graft.ops.Curation.hashBucket(col("doc_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val des = StoreProvider.docStoreFor(s, d, isNew)
      val root =
        java.nio.file.Files.createTempDirectory("verify-sbpe-")
      try {
        graft.ops.BpeStore.seed(docs, root.toString, BpeEncodeMerges)
        val reader = graft.ops.BpeStore.resolve(s, root.toString)
        drainStream(
            ingestFeed(des),
            "verify-sbpe-ck-",
            perBatch = b => graft.ops.BpeStore.encodeWith(reader,
              b.select(
                expr("CAST(substring(stream_id, 5, 30) AS BIGINT)")
                  .as("doc_id"),
                col("payload").cast("string").as("text")),
              samplePred = col("doc_id") < 20)) { r =>
            (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bpe_tokens"),
              Option(r.getAs[String]("enc")))
          }
          .toDF("doc_id", "n_bpe_tokens", "enc")
          .orderBy(col("doc_id"))
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // Polynomial rolling-hash fingerprint (exact integer arithmetic).
    "text_rolling_hash" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.rollingHash(col("text")).as("rhash"))
        .orderBy(col("doc_id"))),

    // LSH-bucketed ANN (random-hyperplane, 6 planes): the 100 TB path
    // where brute force becomes a bucket equi-join.
    "ann_lsh_bucketed" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.where(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.ops.Similarity.lshTopK(e, q, 5, planes = 6)
        .orderBy(col("qid"), col("rk"))
    }),

    // REAL image header decode, end-to-end: synthesize a valid PNG per
    // document (magic + IHDR with width/height derived from doc_id),
    // then decode it back with the native hex/conv expression path.
    // The oracle computes the expected dimensions arithmetically —
    // encode and decode are independent code paths, so a decode bug
    // hash-mismatches.
    "multimodal_decode" -> ((s, d) => {
      val w = (pmod(col("doc_id"), lit(1024)) + 1).cast("long")
      val h = (pmod(col("doc_id") * 7, lit(768)) + 1).cast("long")
      val png = concat(
        unhex(lit(graft.ops.Multimodal.PngMagicHex)),
        unhex(lit("0000000D49484452")), // IHDR length + chunk type
        unhex(lpad(hex(w), 8, "0")),
        unhex(lpad(hex(h), 8, "0")),
        unhex(lit("0806000000"))) // bit depth, color type, ...
      graft.ops.Multimodal.decodeDims(
          Tables.documents(s, d).withColumn("payload", png), "payload")
        .select(col("doc_id"), col("img_format"), col("img_width"), col("img_height"))
        .orderBy(col("doc_id"))
    }),

    // REAL pixel decode, end-to-end: synthesize a valid 24-bit BMP per
    // document with column expressions alone (hex strings → unhex), run
    // it through javax.imageio via Multimodal.decodeImages, and check
    // width/height/channels/mean-intensity against the oracle's
    // arithmetic ground truth. Encode (expressions), decode (ImageIO),
    // and oracle (SQL arithmetic) are three independent code paths.
    "multimodal_pixels" -> ((s, d) => {
      // little-endian hex of a 4-byte value
      def le32(c: Column): Column = {
        val be = lpad(hex(c), 8, "0")
        concat(substring(be, 7, 2), substring(be, 5, 2),
          substring(be, 3, 2), substring(be, 1, 2))
      }
      val w = (pmod(col("doc_id"), lit(21)) + 1).cast("int")
      val h = (pmod(col("doc_id") * 5, lit(17)) + 1).cast("int")
      val bB = pmod(col("doc_id"), lit(256)).cast("int")
      val bG = pmod(col("doc_id") * 3, lit(256)).cast("int")
      val bR = pmod(col("doc_id") * 7, lit(256)).cast("int")
      val rowSize = ((w * 3 + 3) / lit(4)).cast("int") * 4
      val pixHex = concat(lpad(hex(bB), 2, "0"), lpad(hex(bG), 2, "0"),
        lpad(hex(bR), 2, "0"))
      val rowHex = concat(call_function("repeat", pixHex, w),
        call_function("repeat", lit("00"), rowSize - w * 3))
      val bmp = unhex(concat(
        lit("424D"), le32(lit(54) + rowSize * h), lit("00000000"), le32(lit(54)),
        le32(lit(40)), le32(w), le32(h), lit("0100"), lit("1800"),
        le32(lit(0)), le32(rowSize * h), le32(lit(2835)), le32(lit(2835)),
        le32(lit(0)), le32(lit(0)),
        call_function("repeat", rowHex, h)))
      graft.ops.Multimodal.decodeImages(
          Tables.documents(s, d).withColumn("payload", bmp), "payload")
        .select(col("doc_id"), col("img_width"), col("img_height"),
          col("img_channels"), round(col("img_score"), 6).as("mean_intensity"))
        .orderBy(col("doc_id"))
    }),

    // REAL image resize, end-to-end: synthesize a per-document
    // 2D-GRADIENT BMP (pixel value varies with x AND the file row, so
    // any off-by-one in either sampling axis — including the BMP
    // bottom-up row flip — shifts the sampled values), nearest-neighbor
    // resize to 8×4 through ImageIO decode + integer index mapping,
    // and pin the resized mean plus both corner samples against the
    // synthesis arithmetic.
    "multimodal_resize" -> ((s, d) => {
      def le32(c: Column): Column = {
        val be = lpad(hex(c), 8, "0")
        concat(substring(be, 7, 2), substring(be, 5, 2),
          substring(be, 3, 2), substring(be, 1, 2))
      }
      val w = (pmod(col("doc_id"), lit(21)) + 1).cast("int")
      val h = (pmod(col("doc_id") * 5, lit(17)) + 1).cast("int")
      val rowSize = ((w * 3 + 3) / lit(4)).cast("int") * 4
      def chan(fy: Column, x: Column, m1: Int, m2: Int, m3: Int): Column =
        lpad(hex(pmod(col("doc_id") * m1 + x * m2 + fy * m3, lit(256))), 2, "0")
      val body = concat_ws("", transform(sequence(lit(0), h - 1), fy =>
        concat(
          concat_ws("", transform(sequence(lit(0), w - 1), x =>
            concat(chan(fy, x, 7, 13, 3), chan(fy, x, 3, 5, 7),
              chan(fy, x, 1, 11, 17)))),
          call_function("repeat", lit("00"), rowSize - w * 3))))
      val bmp = unhex(concat(
        lit("424D"), le32(lit(54) + rowSize * h), lit("00000000"), le32(lit(54)),
        le32(lit(40)), le32(w), le32(h), lit("0100"), lit("1800"),
        le32(lit(0)), le32(rowSize * h), le32(lit(2835)), le32(lit(2835)),
        le32(lit(0)), le32(lit(0)), body))
      graft.ops.Multimodal.resizeImages(
          Tables.documents(s, d).withColumn("payload", bmp), "payload",
          dw = 8, dh = 4)
        .select(col("doc_id"), col("out_w"), col("out_h"),
          col("resized_mean"), col("tl_sum"), col("br_sum"))
        .orderBy(col("doc_id"))
    }),

    // PERCEPTUAL IMAGE DEDUP: per-document 2D-gradient BMPs with
    // PLANTED near-dup pairs — consecutive even/odd doc_ids share one
    // gradient (g = doc_id div 2); the odd twin additionally bumps
    // the file-origin pixel's first channel by 128, so its dHash can
    // differ from its even twin's by at most the comparisons that
    // sample touches (<= 2 bits). dHash runs through the REAL ImageIO
    // decode (Multimodal.dHash64); banding and Hamming verify are the
    // simhash LSH machinery at the Manku 4x16-bit geometry
    // (pigeonhole-exact at hamming <= 3). Synthesis (expressions),
    // decode (ImageIO), oracle (SQL arithmetic) are three independent
    // paths — the multimodal discipline.
    "dedup_image_dhash" -> ((s, d) =>
      graft.ops.Dedup.imageDHashPairs(dhashTwinBmps(s, d), "payload",
          "doc_id")
        .orderBy(col("a"), col("b"))),

    // INCREMENTAL perceptual image dedup: near-dup image pairs
    // touching at least one NEW image (the usual ~20% hash split) —
    // the per-ingest-batch shape, riding the SAME incremental banded
    // probe as text simhash: only new images' bands probe the corpus
    // band index, the historical corpus never self-joins. Result ==
    // the batch gate RESTRICTED to new-touching pairs (spec-pinned);
    // the oracle is the batch oracle with that restriction on the
    // candidate CTE.
    "dedup_image_dhash_incremental" -> ((s, d) =>
      graft.ops.Dedup.imageDHashPairsIncremental(dhashTwinBmps(s, d),
          "payload", "doc_id",
          isNewCol = graft.ops.Curation.hashBucket(col("doc_id"),
            IncrementalSeed) < lit(IncrementalNewBp))
        .orderBy(col("a"), col("b"))),

    // PERCEPTUAL AUDIO DEDUP: per-document canonical 8-bit PCM WAVs
    // with planted even/odd near-dup twins — one md5-salted mod-256
    // sample ramp per group (g = doc_id div 2), the odd twin's FIRST
    // sample bumped by 128 (moves at most bit 0 of the energy hash).
    // The fingerprint is Multimodal.wavEnergyHash64 — a PURE native
    // expression through the real WAV container (65 byteSumRange
    // windows in one codegen projection, zero UDF); banding and
    // verify are the shared simhash machinery at the Manku 4x16-bit
    // geometry. Audio is the FIFTH banded dedup family member. The
    // oracle replays synthesis + window arithmetic (expressions /
    // binary byte-walk / SQL arithmetic = three independent paths).
    "dedup_audio_energy" -> ((s, d) =>
      graft.ops.Dedup.audioEnergyHashPairs(audioTwinWavs(s, d),
          "payload", "doc_id")
        .orderBy(col("a"), col("b"))),

    // Its per-ingest-batch shape on the shared incremental banded
    // probe; oracle = the batch oracle with the new-touching
    // restriction on the candidate CTE only.
    "dedup_audio_energy_incremental" -> ((s, d) =>
      graft.ops.Dedup.audioEnergyHashPairsIncremental(audioTwinWavs(s, d),
          "payload", "doc_id",
          isNewCol = graft.ops.Curation.hashBucket(col("doc_id"),
            IncrementalSeed) < lit(IncrementalNewBp))
        .orderBy(col("a"), col("b"))),

    // PERCEPTUAL VIDEO DEDUP: per-document uncompressed AVIs with
    // planted even/odd twins — solid-color frames whose per-channel
    // colors follow an md5-salted ramp over the FRAME index (the
    // temporal envelope), the odd twin's first frame bumped by 128 on
    // one channel (moves at most bit 0). The fingerprint rides the
    // REAL container walk (aviFrameEnergies) into the 65-window
    // temporal resample; banding/verify are the shared machinery.
    // Video is the SIXTH banded dedup family member — every decoder
    // the engine has now feeds a dedup tier. Oracle replays
    // synthesis + window arithmetic through the shared SQL tail.
    "dedup_video_temporal" -> ((s, d) =>
      graft.ops.Dedup.videoTemporalHashPairs(videoTwinAvis(s, d),
          "payload", "doc_id")
        .orderBy(col("a"), col("b"))),

    // Its per-ingest-batch shape on the shared incremental probe.
    "dedup_video_temporal_incremental" -> ((s, d) =>
      graft.ops.Dedup.videoTemporalHashPairsIncremental(
          videoTwinAvis(s, d), "payload", "doc_id",
          isNewCol = graft.ops.Curation.hashBucket(col("doc_id"),
            IncrementalSeed) < lit(IncrementalNewBp))
        .orderBy(col("a"), col("b"))),

    // Multimodal plumbing: binary payload + metadata envelope — the
    // envelope fields are oracle-checked.
    "multimodal_meta" -> ((s, d) => {
      val withBin = Tables.documents(s, d)
        .withColumn("payload", col("text").cast("binary"))
      graft.ops.Multimodal.withMediaMeta(withBin, "payload", "text/plain")
        .select(col("doc_id"),
          col("media_meta.mime").as("mime"),
          col("media_meta.byte_len").as("byte_len"))
        .orderBy(col("doc_id"))
    }),

    // REAL audio header decode, end-to-end: synthesize a canonical
    // 8-bit PCM mono WAV per document with column expressions alone
    // (RIFF/fmt/data header + samples from doc_id arithmetic), then
    // decode it back through Multimodal.decodeWav's byte-extraction
    // expressions — format fields, sample/duration arithmetic, and the
    // exact mean-amplitude envelope. Encode (hex concat), decode
    // (little-endian byte reads), and oracle (SQL arithmetic) are three
    // independent code paths.
    "multimodal_audio" -> ((s, d) => {
      def le32(c: Column): Column = {
        val be = lpad(hex(c), 8, "0")
        concat(substring(be, 7, 2), substring(be, 5, 2),
          substring(be, 3, 2), substring(be, 1, 2))
      }
      val sr = (lit(8000) + pmod(col("doc_id"), lit(8)) * 1000).cast("long")
      val n = (pmod(col("doc_id"), lit(50)) + 10).cast("long")
      val sampleHex = concat_ws("",
        transform(sequence(lit(0L), n - 1),
          i => lpad(hex(pmod(col("doc_id") * 13 + i * 7, lit(256))), 2, "0")))
      val wav = unhex(concat(
        lit(graft.ops.Multimodal.WavMagicRiffHex), le32((lit(36L) + n).cast("int")),
        lit(graft.ops.Multimodal.WavMagicWaveFmtHex), le32(lit(16)),
        lit("0100"), lit("0100"), // PCM, mono
        le32(sr.cast("int")), le32(sr.cast("int")), // sample rate, byte rate
        lit("0100"), lit("0800"), // block align 1, 8 bits/sample
        hex(lit("data".getBytes("US-ASCII"))), le32(n.cast("int")),
        sampleHex))
      graft.ops.Multimodal.decodeWav(
          Tables.documents(s, d).withColumn("payload", wav), "payload")
        .select(col("doc_id"), col("wav_sample_rate"), col("wav_bits"),
          col("wav_n_samples"), col("wav_duration_ms"), col("wav_mean_amp"))
        .orderBy(col("doc_id"))
    }),

    // REAL PCM frame extraction: the synthesized WAVs exploded into
    // 8-sample frames with exact per-frame mean amplitudes — PCM is
    // uncompressed, so the frame values are true codec output, and the
    // oracle recomputes every frame mean from the same doc_id
    // arithmetic. One row per frame, no shuffle.
    "multimodal_audio_frames" -> ((s, d) => {
      def le32(c: Column): Column = {
        val be = lpad(hex(c), 8, "0")
        concat(substring(be, 7, 2), substring(be, 5, 2),
          substring(be, 3, 2), substring(be, 1, 2))
      }
      val sr = (lit(8000) + pmod(col("doc_id"), lit(8)) * 1000).cast("long")
      val n = (pmod(col("doc_id"), lit(50)) + 10).cast("long")
      val sampleHex = concat_ws("",
        transform(sequence(lit(0L), n - 1),
          i => lpad(hex(pmod(col("doc_id") * 13 + i * 7, lit(256))), 2, "0")))
      val wav = unhex(concat(
        lit(graft.ops.Multimodal.WavMagicRiffHex), le32((lit(36L) + n).cast("int")),
        lit(graft.ops.Multimodal.WavMagicWaveFmtHex), le32(lit(16)),
        lit("0100"), lit("0100"),
        le32(sr.cast("int")), le32(sr.cast("int")),
        lit("0100"), lit("0800"),
        hex(lit("data".getBytes("US-ASCII"))), le32(n.cast("int")),
        sampleHex))
      graft.ops.Multimodal.wavFrames8(
          Tables.documents(s, d).withColumn("payload", wav), "payload",
          frameSamples = 8)
        .select(col("doc_id"), col("frame_idx"), col("frame_mean_amp"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // REAL video container decode, end-to-end: synthesize a minimal
    // uncompressed AVI per document (RIFF "AVI ", hdrl/avih header,
    // movi LIST of solid-BGR 00db DIB frames) with column expressions
    // alone, walk the chunk grammar back with Multimodal.aviFrames,
    // and pin per-frame mean intensities against arithmetic ground
    // truth. Widths are 4-byte-aligned so frames carry no row padding.
    "multimodal_video_frames" -> ((s, d) => {
      def le32(c: Column): Column = {
        val be = lpad(hex(c), 8, "0")
        concat(substring(be, 7, 2), substring(be, 5, 2),
          substring(be, 3, 2), substring(be, 1, 2))
      }
      def z32(n: Int): Column = lit("00000000" * n)
      val w = ((pmod(col("doc_id"), lit(3)) + 1) * 4).cast("int")
      val h = (pmod(col("doc_id") * 3, lit(5)) + 2).cast("int")
      val nf = (pmod(col("doc_id"), lit(4)) + 2).cast("int")
      val frameSize = w * 3 * h
      def colorHex(f: Column, mulDoc: Int, mulF: Int): Column =
        lpad(hex(pmod(col("doc_id") * mulDoc + f * mulF, lit(256))), 2, "0")
      val framesHex = concat_ws("", transform(sequence(lit(0), nf - 1), f =>
        concat(lit("30306462"), le32(frameSize), // "00db" + size
          call_function("repeat",
            concat(colorHex(f, 1, 11), colorHex(f, 3, 17), colorHex(f, 7, 23)),
            w * h))))
      val moviSize = lit(4) + nf * (frameSize + 8)
      val avi = unhex(concat(
        lit("52494646"), le32(lit(88) + moviSize), lit("41564920"), // RIFF .. AVI_
        lit("4C495354"), le32(lit(68)), lit("6864726C"), // LIST 68 hdrl
        lit("61766968"), le32(lit(56)), le32(lit(33333)), z32(3), // avih
        le32(nf), lit("00000000"), le32(lit(1)), lit("00000000"),
        le32(w), le32(h), z32(4),
        lit("4C495354"), le32(moviSize), lit("6D6F7669"), // LIST .. movi
        framesHex))
      graft.ops.Multimodal.aviFrames(
          Tables.documents(s, d).withColumn("payload", avi), "payload")
        .select(col("doc_id"), col("frame_idx"), col("frame_w"),
          col("frame_h"), col("frame_mean"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // Z-order layout keys: Morton interleave of (user_id, value-bucket)
    // — the multi-dimensional sort key that keeps BOTH columns' parquet
    // min/max stats selective after a layout rewrite. Pure integer bit
    // arithmetic, verified bit-for-bit against the oracle.
    "layout_zorder" -> ((s, d) =>
      ev(s, d)
        .select(col("event_id"), col("user_id"),
          // floor-then-cast: Spark's double→long cast truncates while
          // DuckDB's rounds — floor makes both exact
          expr("CAST(floor(value) AS BIGINT)").as("vb"))
        .withColumn("zval",
          graft.ops.Curation.zValue(col("user_id"), col("vb"), bits = 16))
        .select(col("event_id"), col("zval"))
        .orderBy(col("event_id"))),

    // Bucketed co-located join: documents and embeddings written as
    // bucket-sorted tables on the join key, joined with NO exchange
    // and no re-sort on either side (BucketedJoinSpec pins the plan) —
    // the pay-once-at-write layout for a key joined every day at
    // 100 TB. Values oracle-checked against the plain join.
    "layout_bucketed" -> ((s, d) =>
      graft.ops.Curation.bucketedJoin(
          Tables.documents(s, d).select(col("doc_id"), col("lang"),
            col("n_chars")),
          "doc_id",
          Tables.embeddings(s, d).select(col("vec_id"),
            size(col("embedding")).cast("long").as("dims")),
          "vec_id",
          buckets = 8,
          leftTable = "graft_bkt_docs", rightTable = "graft_bkt_emb")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("dims"))
        .orderBy(col("doc_id"))),

    // Deterministic train/val/test split by md5 bucket — stable across
    // runs/engines/layouts, zero shuffle (pure projection).
    "curation_hash_split" -> ((s, d) =>
      graft.ops.Curation.hashSplit(Tables.documents(s, d), "doc_id",
          Seq("train" -> 9000, "val" -> 9500, "test" -> 10000))
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))),

    // Benchmark decontamination: corpus docs sharing any word 8-gram
    // with the benchmark set (doc_id < 10 here) — the n-gram-overlap
    // contamination test; shuffle on shingles, never document pairs.
    "curation_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Curation.contaminated(
          docs.where(col("doc_id") >= 10), docs.where(col("doc_id") < 10),
          "text", "doc_id", n = 8)
        .select(col("id").as("doc_id"), col("n_hits"), col("first_hit"))
        .orderBy(col("doc_id"))
    }),

    // FUZZY decontamination: corpus docs that are MinHash-LSH
    // near-duplicates (exact-Jaccard-verified >= 0.8) of a benchmark
    // doc (doc_id < 100 here) — catches the lightly-edited leaks the
    // exact 8-gram test misses. Benchmark bands broadcast; corpus
    // probes in place.
    "curation_decontaminate_fuzzy" -> ((s, d) =>
      graft.ops.Curation.contaminatedFuzzy(Tables.documents(s, d),
          "text", "doc_id", col("doc_id") < 100, threshold = 0.8)
        .orderBy(col("doc_id"))),

    // Symmetric int8 embedding quantization: per-vector scale + code
    // sum + reconstruction-error profile (floor-based rounding so both
    // engines agree bit-for-bit).
    "curation_quantize_int8" -> ((s, d) =>
      graft.ops.Curation.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")
        .select(col("vec_id"),
          round(col("scale"), 9).as("scale"),
          expr("aggregate(codes, 0L, (acc, v) -> acc + v)").as("code_sum"),
          col("max_abs_err"))
        .orderBy(col("vec_id"))),

    // DSIR importance weights: hashed unigram+bigram log-likelihood
    // ratio of a target (in-domain) distribution vs the raw corpus —
    // the data-selection score a pretraining pipeline computes before
    // sampling. Target here: the src0 source as the in-domain set.
    "curation_dsir_weights" -> ((s, d) =>
      graft.ops.Curation.dsirWeights(Tables.documents(s, d), "text",
          "doc_id", col("source") === "src0", buckets = DsirBuckets)
        .orderBy(col("doc_id"))),

    // Near-dup pairs → dedup CLUSTERS: connected components over the
    // verified MinHash-LSH pair graph (alternating large-star /
    // small-star, O(log² n) rounds of three exchanges and one
    // checkpoint job each, the fixpoint fingerprint observed inside
    // that job); cluster id = min doc id = the canonical keeper.
    "dedup_clusters" -> ((s, d) => {
      val pairs = graft.ops.Dedup.minhashLsh(
        Tables.documents(s, d), "text", "doc_id", threshold = 0.5)
      val (cc, rounds) = graft.ops.Dedup.connectedComponentsWithRounds(
        pairs.select(col("a"), col("b")))
      // scale witness for the bench: the query layer records, the
      // library stays pure (see graft.Telemetry)
      Telemetry.ccRounds.set(rounds)
      cc.withColumn("keeper", col("id") === col("cluster"))
        .select(col("id").as("doc_id"), col("cluster"), col("keeper"))
        .orderBy(col("doc_id"))
    }),

    // END-TO-END dedup pipeline: exact dedup strips duplicate mass
    // with one cheap hash shuffle BEFORE the LSH tier ever shingles a
    // document; near-dup discovery + connected components run over
    // representatives only; every document lands in its merged
    // cluster. The composition a production corpus run executes.
    "dedup_pipeline" -> ((s, d) =>
      graft.ops.Dedup.dedupPipeline(Tables.documents(s, d), "text", "doc_id",
          threshold = 0.5)
        .select(col("id").as("doc_id"), col("cluster"), col("keeper"))
        .orderBy(col("doc_id"))),

    // Chunk-level exact SUBSTRING dedup: repeated boilerplate is
    // removed from the text itself (every occurrence of any 100-char
    // chunk seen more than once corpus-wide), not just used to drop
    // whole documents — the fixed-alignment tier of suffix-array
    // substring dedup. One hash-count shuffle + anti-join + per-doc
    // reassembly; cost O(corpus bytes), no pair explosion.
    "dedup_chunks" -> ((s, d) =>
      graft.ops.Dedup.chunkDedup(Tables.documents(s, d), "text", "doc_id",
          chunkChars = 100, maxDf = 1)
        .select(col("id").as("doc_id"), col("clean_text"),
          col("n_chunks"), col("n_dropped"))
        .orderBy(col("doc_id"))),

    // Temperature-scaled language mixing (p(l) ∝ count(l)^0.5): keep-
    // rates DERIVED from corpus composition — the rarest language is
    // kept whole, over-represented ones (en is ~40% of this corpus)
    // downsample toward it. sqrt + IEEE division keep the rates
    // bit-portable; the keep decision is the same md5-bucket machinery
    // as hash_split.
    "curation_temperature_mix" -> ((s, d) =>
      graft.ops.Curation.temperatureMix(Tables.documents(s, d),
          "lang", "doc_id", alpha = 0.5)
        .select(col("doc_id"), col("lang"), col("bucket"),
          col("rate_bp"), col("keep"))
        .orderBy(col("doc_id"))),

    // Corpus-composition map: pairwise cosine between per-source mean
    // embeddings. The element-wise centroid aggregation collapses the
    // corpus to |sources|×dims rows before any join — the join itself
    // is corpus-size-independent.
    "embedding_source_cosine" -> ((s, d) => {
      val j = Tables.embeddings(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
          col("vec_id") === col("doc_id"))
      graft.ops.Similarity.groupCentroidCosine(j, "source")
        .select(col("ga").as("src_a"), col("gb").as("src_b"), col("cosine"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Composite Gopher-style quality FILTER: the curation decision
    // point — token bounds, mean-token-length band, stopword floor,
    // repetition caps — keep/drop with the first failing rule named.
    "curation_quality_filter" -> ((s, d) =>
      graft.ops.Curation.qualityFilter(Tables.documents(s, d), "text", "doc_id",
          minTokens = QfMinTokens, maxTokens = QfMaxTokens,
          minMeanTokLen = QfMinMeanTokLen, maxMeanTokLen = QfMaxMeanTokLen,
          minStopRatio = QfMinStopRatio,
          maxTopBigramFrac = QfMaxTopBigramFrac,
          maxDupTrigramFrac = QfMaxDupTrigramFrac)
        .orderBy(col("doc_id"))),

    // The tiered production filter STACK: Gopher rules → CCNet
    // perplexity tertile → NB classifier; first failing tier named.
    // Two doc-id equi-joins over the three already-gated tiers.
    "curation_quality_ensemble" -> ((s, d) =>
      graft.ops.Curation.qualityEnsemble(Tables.documents(s, d), "text",
          "doc_id", positive = col("lang") === "en",
          minTokens = QfMinTokens, maxTokens = QfMaxTokens,
          minMeanTokLen = QfMinMeanTokLen, maxMeanTokLen = QfMaxMeanTokLen,
          minStopRatio = QfMinStopRatio,
          maxTopBigramFrac = QfMaxTopBigramFrac,
          maxDupTrigramFrac = QfMaxDupTrigramFrac)
        .select(col("doc_id"), col("gopher_reason"), col("bucket"),
          col("pred_pos"), col("reason"), col("keep"))
        .orderBy(col("doc_id"))),

    // Deterministic stratified sampling by language: per-stratum keep
    // rates in basis points over an md5 bucket — the corpus-mixing
    // downsample; pure projection + filter, zero shuffle.
    "curation_sample_stratified" -> ((s, d) =>
      graft.ops.Curation.stratifiedSample(Tables.documents(s, d),
          "lang", "doc_id", StratRatesBp, StratDefaultBp)
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy(col("doc_id"))),

    // Consistent EXACT-k per-stratum sample: the k smallest
    // md5("csample:"+id) per language, via the custom TopKPerKey
    // physical operator (bounded per-key heaps, one hash shuffle, no
    // per-group sort). Hash order is a stable uniform permutation, so
    // re-runs and incremental ingests keep the same survivors until a
    // smaller hash arrives — the fixed-BUDGET counterpart of the
    // fixed-RATE md5-bucket samplers.
    "curation_sample_topk" -> ((s, d) =>
      graft.plans.TopK.topKPerKey(
        Tables.documents(s, d)
          .withColumn("h", md5(concat(lit("csample:"),
            col("doc_id").cast("string")).cast("binary"))),
        Seq("lang"), Seq(col("h").asc, col("doc_id").asc), 20,
        rankCol = Some("rk"))
        .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
        .orderBy(col("lang"), col("rk"))),

    // Score-proportional sampling: keep-probability equal to the
    // document's own quality score (here a length proxy, 25 bp per
    // char capped at 1) — the continuous counterpart of the per-
    // stratum rates above; zero shuffle, deterministic by id.
    "curation_sample_weighted" -> ((s, d) =>
      graft.ops.Curation.weightedSample(Tables.documents(s, d),
          "doc_id", col("n_chars") * lit(WeightedBpPerChar))
        .select(col("doc_id"), col("score_bp"), col("bucket"))
        .orderBy(col("doc_id"))),

    // Greedy next-fit sequence packing into fixed token budgets across
    // hash lanes — the training-sequence assembly step; streaming
    // mapPartitions with O(1) state, parallel across lanes.
    "curation_pack_sequences" -> ((s, d) =>
      graft.ops.Curation.packSequences(Tables.documents(s, d),
          "text", "doc_id", budget = PackBudget, numLanes = PackLanes)
        .orderBy(col("doc_id"))),

    // Gopher-style repetition signals: characters covered by the top
    // word 2-gram + duplicate word-3-gram occurrence fraction — the
    // boilerplate/spam filter; one (doc, gram) shuffle, no pairs.
    "text_repetition" -> ((s, d) =>
      graft.ops.Repetition.repetitionFeatures(Tables.documents(s, d),
          "text", "doc_id")
        .orderBy(col("doc_id"))),

    // PII scrubbing: detect + redact emails/phones/IPv4. The corpus is
    // deterministically salted with synthetic PII derived from doc_id
    // (salting expression mirrored in the oracle) so every pattern is
    // exercised with nonzero counts; detection and redaction are pure
    // scan-speed projections.
    "pii_redact" -> ((s, d) => {
      val t = col("text")
      val salted = when(col("doc_id") % 4 === 0,
          concat(t, lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now")))
        .when(col("doc_id") % 4 === 1,
          concat(t, lit(" call 555-123-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .when(col("doc_id") % 4 === 2,
          concat(t, lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), expr("(doc_id % 65536) div 256").cast("string")))
        .otherwise(t)
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.ops.Pii.emailCount(salted).as("n_emails"),
          graft.ops.Pii.phoneCount(salted).as("n_phones"),
          graft.ops.Pii.ipv4Count(salted).as("n_ips"),
          md5(graft.ops.Pii.redact(salted).cast("binary")).as("red_fp"))
        .orderBy(col("doc_id"))
    }),

    // BM25 keyword retrieval: top-20 docs for a 3-term query. One corpus
    // scan (tf as codegen'd columns, no explode), single-row global
    // stats re-entering via broadcast, top-k via per-partition heaps.
    "rank_bm25" -> ((s, d) =>
      graft.ops.Ranking.bm25TopK(Tables.documents(s, d), "text", "doc_id",
          Bm25Terms, k1 = Bm25K1, b = Bm25B, topK = Bm25TopK)
        .orderBy(col("rk"))),

    // BM25 served from the PERSISTED generation-addressed inverted
    // index (Bm25Store): build once — (term, doc, tf, dl) postings
    // partitioned by term-hash bucket + one global-stats row — then
    // answer the query from the query terms' posting lists alone: a
    // bucket-pruned, term-pushed read of Σ df_t rows, per-doc tf
    // pivot, and the VERBATIM shared score expression. No corpus
    // scan at query time — the retrieval-service shape. Result
    // bit-identical to rank_bm25 (478/500 docs match ≥1 term), so
    // the ORACLE IS THE SAME.
    "rank_bm25_persistent" -> ((s, d) => {
      val root =
        java.nio.file.Files.createTempDirectory("verify-bm25ix-")
      try {
        graft.ops.Bm25Store.seed(Tables.documents(s, d), root.toString)
        graft.ops.Bm25Store.scoreQuery(s, root.toString, Bm25Terms,
            k1 = Bm25K1, b = Bm25B, topK = Bm25TopK)
          .orderBy(col("rk"))
          .localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // STREAMING lexical-index maintenance — the live-corpus shape of
    // rank_bm25_persistent: seed the inverted index on the at-rest
    // corpus, then documents arrive as EVENTS through the real append
    // path, each micro-batch appends its posting rows into their term
    // buckets plus one stats-ledger delta, with a reader-safe
    // generational compaction mid-stream (re-cluster by term, collapse
    // the ledger, atomic flip). tf/dl are per-doc and the ledger is
    // additive, so seed + streamed appends is BIT-IDENTICAL to one
    // build of the full corpus (Bm25StoreSpec pins the algebra) — the
    // ORACLE IS rank_bm25's verbatim. The BM25 artifact now has the
    // same seed/append/compact/serve lifecycle the ANN index has.
    "stream_bm25_ingest" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val isNew = graft.ops.Curation.hashBucket(col("doc_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val des = StoreProvider.docStoreFor(s, d, isNew)
      val root =
        java.nio.file.Files.createTempDirectory("verify-sbm25-")
      try {
        graft.ops.Bm25Store.seed(docs.where(!isNew), root.toString)
        val batchNo = new java.util.concurrent.atomic.AtomicInteger(0)
        drainStream(
            ingestFeed(des),
            "verify-sbm25-ck-",
            perBatch = { b =>
              graft.ops.Bm25Store.append(
                b.select(
                  expr("CAST(substring(stream_id, 5, 30) AS BIGINT)")
                    .as("doc_id"),
                  col("payload").cast("string").as("text")),
                root.toString)
              if (batchNo.incrementAndGet() % StreamCompactEvery == 0)
                graft.ops.Bm25Store.compact(s, root.toString)
              b.groupBy().count()
            }) { r => r.getAs[Long](0) }
        graft.ops.Bm25Store.scoreQuery(s, root.toString, Bm25Terms,
            k1 = Bm25K1, b = Bm25B, topK = Bm25TopK)
          .orderBy(col("rk"))
          .localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // MMR diversity re-rank (Carbonell & Goldstein 1998): the exact
    // cosine arm retrieves MmrN candidates for query vec 0, then the
    // greedy λ·rel − γ·max-sim-to-selected pass picks MmrK — the
    // post-retrieval pass that keeps the k results from being k
    // paraphrases. The greedy is O(k·n) over a query constant and
    // runs driver-side; the retrieval arm carries all corpus cost.
    "rank_mmr" -> ((s, d) =>
      graft.ops.Ranking.mmrRerank(Tables.embeddings(s, d), queryId = 0L,
          n = MmrN, k = MmrK, lambda = MmrLambda, gamma = MmrGamma)
        .orderBy(col("rk"))),

    // PRODUCTION MMR: the candidate arm served from the PERSISTENT
    // ANN index (seed/append/compact) through the exact-refine tail —
    // refined top-MmrN cosines feed the SAME greedy diversity core as
    // the flat form (mmrFromArm). The leg's scale story is the
    // index's probe-bounded story; the greedy stays a query constant.
    "rank_mmr_ann" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val isNew = graft.ops.Curation.hashBucket(col("vec_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val root =
        java.nio.file.Files.createTempDirectory("verify-annmmr-")
      try {
        graft.ops.AnnIndex.seed(e.where(!isNew), root.toString,
          nlist = IvfLists, trainIters = IvfIters,
          m = PqM, k = PqK, pqIters = PqIters)
        (0 until 3).foreach { c =>
          graft.ops.AnnIndex.append(
            e.where(isNew && pmod(col("vec_id"), lit(3)) === c),
            root.toString)
          if (c == 1)
            graft.ops.AnnIndex.compact(s, root.toString)
        }
        val qVecs = graft.ops.AnnIndex.collectQueryVecs(
          e.where(col("vec_id") === 0))
        val top = graft.ops.AnnIndex.queryBatchRefined(s, root.toString,
            e, qVecs, kNN = MmrN, rerank = RefineR, nprobe = IvfPqProbes)
          .select(col("vec_id"), col("cosine").as("rel"))
        graft.ops.Ranking.mmrFromArm(e, top, k = MmrK,
            lambda = MmrLambda, gamma = MmrGamma)
          .orderBy(col("rk"))
          .localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // NDCG@10 retrieval evaluation: the exact cosine arm for query
    // vecs 0/1/2 scored against binary label-agreement relevance —
    // the eval-harness operator; DCG is an explicit fixed-order
    // k-term expression and the ideal table is a driver constant, so
    // the metric is bit-reproducible across engines.
    "rank_ndcg_eval" -> ((s, d) =>
      graft.ops.Ranking.ndcgAtK(Tables.embeddings(s, d),
          col("vec_id").isin(0, 1, 2), k = NdcgK)
        .orderBy(col("qid"))),

    // NDCG@10 served from the PERSISTENT ANN index: the refined
    // index ranking scored by the SAME metric tail (ndcgFromArm) —
    // the index's RANKING quality against labels, where the recall
    // canaries only measure overlap with the exact arm.
    "rank_ndcg_eval_ann" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val isNew = graft.ops.Curation.hashBucket(col("vec_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val root =
        java.nio.file.Files.createTempDirectory("verify-annndcg-")
      try {
        graft.ops.AnnIndex.seed(e.where(!isNew), root.toString,
          nlist = IvfLists, trainIters = IvfIters,
          m = PqM, k = PqK, pqIters = PqIters)
        (0 until 3).foreach { c =>
          graft.ops.AnnIndex.append(
            e.where(isNew && pmod(col("vec_id"), lit(3)) === c),
            root.toString)
          if (c == 1)
            graft.ops.AnnIndex.compact(s, root.toString)
        }
        val qVecs = graft.ops.AnnIndex.collectQueryVecs(
          e.where(col("vec_id").isin(0, 1, 2)))
        val top = graft.ops.AnnIndex.queryBatchRefined(s, root.toString,
            e, qVecs, kNN = NdcgK, rerank = RefineR, nprobe = IvfPqProbes)
          .select(col("qid"), col("vec_id"), col("rk"))
        graft.ops.Ranking.ndcgFromArm(e, top,
            col("vec_id").isin(0, 1, 2), k = NdcgK)
          .orderBy(col("qid"))
          .localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // MRR + precision@10 over the same arm — single exact-integer
    // divisions, no rounding tolerance anywhere.
    "rank_mrr_eval" -> ((s, d) =>
      graft.ops.Ranking.mrrPrecisionAtK(Tables.embeddings(s, d),
          col("vec_id").isin(0, 1, 2), k = NdcgK)
        .orderBy(col("qid"))),

    // Priority sampling (Duffield–Lund–Thorup 2007): fixed per-lang
    // budgets with weight-proportional (n_chars) inclusion — priority
    // w/u from an exact dyadic md5 uniform, ONE correctly-rounded
    // division, bit-identical cross-engine with zero libm. One
    // projection + one stratum-keyed bounded-heap shuffle.
    "curation_sample_priority" -> ((s, d) =>
      graft.ops.Curation.prioritySample(Tables.documents(s, d), "lang",
          "doc_id", col("n_chars"), k = PrioK)
        .orderBy(col("lang"), col("rk"))),

    // HYBRID retrieval via reciprocal-rank fusion (k=60): the BM25
    // lexical arm (same 3-term query) fused with the embedding-cosine
    // semantic arm (query = vec 0; vec_id aligns 1:1 with doc_id) over
    // the UNION of the two top-50 lists — rank-based fusion, no score
    // normalization across incomparable arms. The arms carry the scale
    // cost; the fusion join is retriever-depth-bounded.
    "rank_rrf_hybrid" -> ((s, d) => {
      val lex = graft.ops.Ranking.bm25TopK(Tables.documents(s, d),
        "text", "doc_id", Bm25Terms, k1 = Bm25K1, b = Bm25B,
        topK = RrfDepth)
      val e = Tables.embeddings(s, d)
      val q = e.where(col("vec_id") === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val sem = graft.ops.Similarity.bruteForceTopK(e, q, RrfDepth)
        .select(col("vec_id").as("doc_id"), col("rk"))
      graft.ops.Ranking.rrfFusion(lex, sem, "doc_id",
          kRrf = RrfK, topK = Bm25TopK)
        .orderBy(col("rk"))
    }),

    // PRODUCTION hybrid retrieval: the semantic arm served from the
    // PERSISTENT ANN index (seed/append/compact — the same store shape
    // as ann_ivfpq_persistent) with the exact re-rank tail
    // (refine_recall_at_5 says refine is the right arm), fused with
    // the BM25 arm by the same RRF. Three proven components composed;
    // the hybrid leg's scale story becomes the index's probe-bounded
    // story — the brute-force cosine scan above stays as the
    // small-corpus / recall-oracle form.
    "rank_rrf_hybrid_ann" -> ((s, d) => {
      val lex = graft.ops.Ranking.bm25TopK(Tables.documents(s, d),
        "text", "doc_id", Bm25Terms, k1 = Bm25K1, b = Bm25B,
        topK = RrfDepth)
      val e = Tables.embeddings(s, d)
      val isNew = graft.ops.Curation.hashBucket(col("vec_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val root =
        java.nio.file.Files.createTempDirectory("verify-annrrf-")
      try {
        graft.ops.AnnIndex.seed(e.where(!isNew), root.toString,
          nlist = IvfLists, trainIters = IvfIters,
          m = PqM, k = PqK, pqIters = PqIters)
        (0 until 3).foreach { c =>
          graft.ops.AnnIndex.append(
            e.where(isNew && pmod(col("vec_id"), lit(3)) === c),
            root.toString)
          if (c == 1)
            graft.ops.AnnIndex.compact(s, root.toString)
        }
        val qVecs = graft.ops.AnnIndex.collectQueryVecs(
          e.where(col("vec_id") === 0))
        val sem = graft.ops.AnnIndex.queryBatchRefined(s, root.toString,
            e, qVecs, kNN = RrfDepth, rerank = RefineR,
            nprobe = IvfPqProbes)
          .select(col("vec_id").as("doc_id"), col("rk"))
        graft.ops.Ranking.rrfFusion(lex, sem, "doc_id",
            kRrf = RrfK, topK = Bm25TopK)
          .orderBy(col("rk"))
          .localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // FULLY-PERSISTENT hybrid retrieval: BOTH arms served from
    // generation-addressed artifacts — the lexical arm from the
    // Bm25Store inverted index (bucket-pruned posting read, zero
    // corpus text scan), the semantic arm from the persistent IVF-PQ
    // AnnIndex through the exact-refine tail — fused by the same RRF.
    // This is the production serving topology: a query touches only
    // its terms' posting buckets and its probe's inverted lists —
    // never the corpus text or the flat vectors. Each arm is
    // bit-identical to its
    // in-session twin (Bm25StoreSpec / AnnIndexSpec), so the ORACLE
    // IS rank_rrf_hybrid_ann's verbatim.
    "rank_rrf_hybrid_persistent" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val isNew = graft.ops.Curation.hashBucket(col("vec_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val lexRoot =
        java.nio.file.Files.createTempDirectory("verify-bm25ix-")
      val root =
        java.nio.file.Files.createTempDirectory("verify-annrrf-")
      try {
        graft.ops.Bm25Store.seed(Tables.documents(s, d), lexRoot.toString)
        val lex = graft.ops.Bm25Store.scoreQuery(s, lexRoot.toString,
          Bm25Terms, k1 = Bm25K1, b = Bm25B, topK = RrfDepth)
        graft.ops.AnnIndex.seed(e.where(!isNew), root.toString,
          nlist = IvfLists, trainIters = IvfIters,
          m = PqM, k = PqK, pqIters = PqIters)
        (0 until 3).foreach { c =>
          graft.ops.AnnIndex.append(
            e.where(isNew && pmod(col("vec_id"), lit(3)) === c),
            root.toString)
          if (c == 1)
            graft.ops.AnnIndex.compact(s, root.toString)
        }
        val qVecs = graft.ops.AnnIndex.collectQueryVecs(
          e.where(col("vec_id") === 0))
        val sem = graft.ops.AnnIndex.queryBatchRefined(s, root.toString,
            e, qVecs, kNN = RrfDepth, rerank = RefineR,
            nprobe = IvfPqProbes)
          .select(col("vec_id").as("doc_id"), col("rk"))
        graft.ops.Ranking.rrfFusion(lex, sem, "doc_id",
            kRrf = RrfK, topK = Bm25TopK)
          .orderBy(col("rk"))
          .localCheckpoint()
      } finally {
        graft.core.Fs.deleteRecursively(root.toFile)
        graft.core.Fs.deleteRecursively(lexRoot.toFile)
      }
    }),

    // Multi-query RRF — the retrieval-eval batch: Q lexical arms from
    // ONE corpus text scan (bm25TopKBatch's union-term tf columns +
    // per-qid bounded heaps), Q semantic arms from the one-scan
    // brute-force batch, fused with every window PARTITIONED BY qid —
    // no global single-partition sort anywhere in the plan.
    "rank_rrf_batch" -> ((s, d) => {
      val lex = graft.ops.Ranking.bm25TopKBatch(Tables.documents(s, d),
        "text", "doc_id", RrfBatchTerms, k1 = Bm25K1, b = Bm25B,
        topK = RrfDepth)
      val e = Tables.embeddings(s, d)
      val q = e.where(col("vec_id").isin(RrfBatchTerms.map(_._1): _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val sem = graft.ops.Similarity.bruteForceTopK(e, q, RrfDepth)
        .select(col("qid"), col("vec_id").as("doc_id"), col("rk"))
      graft.ops.Ranking.rrfFusionBatch(lex, sem, "doc_id",
          kRrf = RrfK, topK = Bm25TopK)
        .orderBy(col("qid"), col("rk"))
    }),

    // The full production retrieval-eval composition: Q lexical arms
    // from one text scan, Q semantic arms from ONE persistent-index
    // query batch (probe-bounded read, shared exact-refine tail),
    // per-qid fusion with no global sort — rank_rrf_hybrid_ann's index
    // story and rank_rrf_batch's batch plan in one gate.
    "rank_rrf_batch_ann" -> ((s, d) => {
      val lex = graft.ops.Ranking.bm25TopKBatch(Tables.documents(s, d),
        "text", "doc_id", RrfBatchTerms, k1 = Bm25K1, b = Bm25B,
        topK = RrfDepth)
      val e = Tables.embeddings(s, d)
      val isNew = graft.ops.Curation.hashBucket(col("vec_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val root =
        java.nio.file.Files.createTempDirectory("verify-annrrfb-")
      try {
        graft.ops.AnnIndex.seed(e.where(!isNew), root.toString,
          nlist = IvfLists, trainIters = IvfIters,
          m = PqM, k = PqK, pqIters = PqIters)
        (0 until 3).foreach { c =>
          graft.ops.AnnIndex.append(
            e.where(isNew && pmod(col("vec_id"), lit(3)) === c),
            root.toString)
          if (c == 1)
            graft.ops.AnnIndex.compact(s, root.toString)
        }
        val qVecs = graft.ops.AnnIndex.collectQueryVecs(
          e.where(col("vec_id").isin(RrfBatchTerms.map(_._1): _*)))
        val sem = graft.ops.AnnIndex.queryBatchRefined(s, root.toString,
            e, qVecs, kNN = RrfDepth, rerank = RefineR,
            nprobe = IvfPqProbes)
          .select(col("qid"), col("vec_id").as("doc_id"), col("rk"))
        graft.ops.Ranking.rrfFusionBatch(lex, sem, "doc_id",
            kRrf = RrfK, topK = Bm25TopK)
          .orderBy(col("qid"), col("rk"))
          .localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // --- engine-backed queries: the EAPPEND/ingest write path and the
    // --- command read surface running through the real EventStore
    // --- (partitioned parquet log + manifest watermark), oracle-checked
    // --- against window-function recomputations of the same semantics.

    // EAPPEND/EMAPPEND-equivalent bulk write path: full ingested log;
    // verifies partition routing + gapless version assignment.
    "es_ingest_versions" -> ((s, d) =>
      StoreProvider.storeFor(s, d).events()
        .select(col("stream_id"), col("stream_version"),
          col("event_name"), expr("timestamp_ns div 1000000").as("ts_ms"),
          col("payload").cast("string").as("payload"))
        .orderBy(col("stream_id"), col("stream_version"))),

    // ESCAN through the store: ordered page of one stream.
    "es_scan_stream" -> ((s, d) =>
      s.createDataFrame(
        StoreProvider.storeFor(s, d).scan("user-42", count = 50).events.asJava,
        graft.core.EventSchema.schema)
        .select(col("stream_id"), col("stream_version"), col("event_name"),
          col("payload").cast("string").as("payload"))
        .orderBy(col("stream_version"))),

    // ESCAN with an inclusive version range.
    "es_scan_range" -> ((s, d) =>
      s.createDataFrame(
        StoreProvider.storeFor(s, d)
          .scan("user-7", startVersion = Some(10), endVersion = Some(25))
          .events.asJava,
        graft.core.EventSchema.schema)
        .select(col("stream_id"), col("stream_version"), col("event_name"))
        .orderBy(col("stream_version"))),

    // ESVER surface: every stream head from the manifest (the O(1)
    // live-index role) must equal a recount of the data.
    "es_sver_heads" -> ((s, d) => {
      val es = StoreProvider.storeFor(s, d)
      import s.implicits._
      es.streamHeadEntries
        .map { case (sid, _, v) => (sid, v) }
        .toDF("stream_id", "head_version")
        .orderBy(col("stream_id"))
    }),

    // Routing invariant via the native Catalyst expressions: every
    // stored event's id and partition_key embed the same 16-bit hash,
    // and hash % 32 equals the directory partition it lives in
    // (`id.rs:71-73` validation). The oracle pins n_routed_ok == total.
    "es_routing_check" -> ((s, d) => {
      import graft.functions.{functions => F}
      StoreProvider.storeFor(s, d).events()
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(
            F.uuid_partition_id(col("partition_key"), StoreProvider.NumPartitions)
              === col("partition_id") &&
              F.uuid_partition_hash(col("event_id"))
                === F.uuid_partition_hash(col("partition_key")), 1L)
            .otherwise(0L)).as("n_routed_ok"))
    }),

    // ESUB surface end-to-end: an ACTUAL subscription (sequence-offset
    // source, matcher, checkpointed delivery) runs to completion over
    // two streams' history; the rows the subscriber RECEIVED are the
    // query result, oracle-checked against a recomputation of exactly
    // what should have been delivered. Fresh checkpoint per run ⇒
    // deterministic full catch-up.
    "es_sub_deliver" -> ((s, d) => {
      val es = StoreProvider.storeFor(s, d)
      import graft.streaming.Subscriptions._
      import s.implicits._
      runSubscription(es, Matcher(streams = Seq("user-42", "user-7")),
        byStream = true) { r =>
        (r.getAs[String]("stream_id"),
          r.getAs[Long]("stream_version"),
          r.getAs[String]("event_name"))
      }.toDF("stream_id", "stream_version", "event_name")
        .orderBy(col("stream_id"), col("stream_version"))
    }),

    // EPSUB surface end-to-end (§2.1 #10, `epsub.rs`; matcher shapes
    // `subscription.rs:79-199`): real partition subscriptions — `*`
    // (all partitions) and a single partition id — catch up through
    // the full history. The consumer folds per-(sub, partition)
    // AGGREGATES in the delivery callback (the stream_dedup_deliver
    // recount discipline) instead of accumulating every delivered row
    // driver-side: only O(#partitions) state ever lives past a batch,
    // so the gated leg times delivery, not a 10⁵-row re-sort. The
    // aggregate shape still pins everything the row dump pinned:
    //   n + min/max + seq_sum  → delivery completeness (gapless 0..max);
    //   ord_sum = Σ rankᵢ·(seqᵢ mod 10⁶+3) → delivery ORDER (rank =
    //     arrival index; by the rearrangement inequality any
    //     out-of-sequence arrival of sequences DISTINCT MOD the
    //     checksum modulus changes the sum — exact for partitions
    //     under ~10⁶ events, i.e. every gate/bench scale; beyond
    //     that a misorder of two mod-congruent sequences aliases,
    //     the price of overflow-safe 64-bit running sums);
    //   name_sum = Σ rankᵢ·md5(nameᵢ) → the event name AT each position.
    // The oracle recomputes all six from the routing table with
    // row_number() as the rank.
    "es_psub_deliver" -> ((s, d) => {
      val es = StoreProvider.storeFor(s, d)
      import graft.streaming.Subscriptions._
      import s.implicits._
      def run(tag: String, m: Matcher): Seq[DeliveryAgg] = {
        // key → (n, min, max, seq_sum, ord_sum, name_sum); arrival-order
        // fold, one uncontended lock per micro-batch
        val acc = scala.collection.mutable.LinkedHashMap[Int, Array[Long]]()
        val md5 = java.security.MessageDigest.getInstance("MD5")
        foldSubscription(es, m) { rows =>
          acc.synchronized {
            rows.foreach { r =>
              val seq = r.getAs[Long]("partition_sequence")
              val a = acc.getOrElseUpdate(r.getAs[Int]("partition_id"),
                Array(0L, Long.MaxValue, Long.MinValue, 0L, 0L, 0L))
              a(0) += 1
              a(1) = math.min(a(1), seq); a(2) = math.max(a(2), seq)
              a(3) += seq
              a(4) += a(0) * (seq % ChecksumMod)
              a(5) += a(0) * md5Mod(md5, r.getAs[String]("event_name"))
            }
          }
        }
        acc.synchronized {
          acc.toSeq.map { case (pid, a) =>
            DeliveryAgg(tag, pid, a(0), a(1), a(2), a(3), a(4), a(5))
          }
        }
      }
      (run("*", Matcher(allPartitions = true)) ++
        run("one", Matcher(partitions = Seq(PsubPartition))))
        .toDF()
        .select(col("sub"), col("partition_id"), col("n_events"),
          col("min_seq"), col("max_seq"), col("seq_sum"), col("ord_sum"),
          col("name_sum"))
        .orderBy(col("sub"), col("partition_id"))
    }),

    // EPSEQ surface: per-partition watermarks vs an oracle recount
    // through the same stream→partition routing table.
    "es_pseq_watermarks" -> ((s, d) => {
      val es = StoreProvider.storeFor(s, d)
      import s.implicits._
      es.manifest.watermarks.toSeq
        .map { case (pid, wm) => (pid, wm) }
        .toDF("partition_id", "watermark")
        .orderBy(col("partition_id"))
    }),

    // Streaming exactly-once from at-least-once: the SAME event log
    // delivered TWICE (two independent graft-source readers unioned — a
    // redelivering feed), collapsed back to exactly-once by
    // EventTimeAggs.dedupDeliveries — watermark-BOUNDED dedup state
    // keyed on event_id, the shape that survives an unbounded 100 TB
    // feed where plain dropDuplicates' O(all keys ever) state dies.
    // The horizon covers the full replay window (the events corpus
    // spans ~30 days) so catch-up is deterministic under any
    // micro-batching; a live tail sizes it to the redelivery window.
    // Only per-batch AGGREGATES reach the driver (events never do);
    // per-stream (count, max, sum) of versions hash-matches the
    // oracle's recount iff every event arrived exactly once — any
    // duplicate breaks count+sum, any loss breaks count+max+sum.
    "stream_dedup_deliver" -> ((s, d) => {
      val es = StoreProvider.storeFor(s, d)
      import s.implicits._
      def feed() = graft.streaming.GraftEventSource.log(es)
      drainStream(
          graft.streaming.EventTimeAggs
            .dedupDeliveries(feed().unionAll(feed()), horizon = "45 days")
            .select(col("stream_id"), col("stream_version")),
          "verify-sdedup-",
          perBatch = b => b.groupBy(col("stream_id"))
            .agg(count(lit(1)).as("n"), max(col("stream_version")).as("mx"),
              sum(col("stream_version")).as("vs"))) { r =>
          (r.getAs[String]("stream_id"), r.getAs[Long]("n"),
            r.getAs[Long]("mx"), r.getAs[Long]("vs"))
        }
        .toDF("stream_id", "n", "mx", "vs")
        .groupBy(col("stream_id"))
        .agg(sum(col("n")).as("n_events"), max(col("mx")).as("max_version"),
          sum(col("vs")).as("version_sum"))
        .orderBy(col("stream_id"))
    }),

    // Near-dup detection INSIDE the streaming ingest — the live-100 TB
    // dedup shape, composing the store's append path with the banded
    // simhash probe: NEW documents (the same deterministic ~10% bucket
    // as dedup_simhash_incremental) are ingested as events through the
    // real EAPPEND path, then live-tailed; each micro-batch
    // fingerprints its documents, probes the persistent band index
    // (seeded from the at-rest corpus, grown by every batch), verifies
    // candidates by exact hamming, and appends its signatures. The
    // union over batches is batch-division-invariant (each pair found
    // exactly once, at the batch of its later member —
    // StreamingDedupSpec pins it across splits), so the oracle is the
    // SAME restricted recount as dedup_simhash_incremental.
    // ingestFeed's trigger bound forces a real multi-batch catch-up:
    // the index genuinely grows mid-stream, which is what
    // distinguishes this from the batch incremental form.
    // STREAMING perceptual image dedup: the banded fingerprint index
    // is FAMILY-GENERIC (one (id, simhash, band, bkey) machine behind
    // text simhash AND the multimodal tiers), gated here end-to-end
    // for images — seed the index from the at-rest images' dHashes,
    // stream the new docs through the real event source, synthesize
    // each micro-batch's BMPs (a pure function of doc_id, identical
    // to the batch gate's corpus), dHash through the real ImageIO
    // decode, probe + append via the shared fingerprintProbeBatch
    // (probe-vs-index AND within-batch, candidate-restricted verify),
    // with the periodic in-stream compaction. Union of per-batch
    // pairs == the incremental batch answer (same restricted-recount
    // oracle as dedup_image_dhash_incremental).
    // (no fingerprint-null filter here: the shared seed/probe core
    // drops null band keys on the GENERATOR output — a filter on the
    // decode column gets pushed into the projection and runs ImageIO
    // twice per row, guide §4.4)
    "stream_dedup_image" -> ((s, d) =>
      streamFingerprintDedupGate(s, d, "verify-sdimg-", ids =>
        graft.ops.Multimodal.imageDHash(dhashTwinBmpsOf(ids), "payload")
          .select(col("doc_id").as("id"), col("dhash").as("simhash")))),

    // STREAMING perceptual audio dedup — the same fingerprint-generic
    // banded index machine as stream_dedup_image, with the PCM
    // energy-hash fingerprint (the fused codegen kernel, zero UDF):
    // seed from the at-rest clips' hashes, stream the new docs
    // through the real event source, synthesize each micro-batch's
    // WAVs (a pure function of doc_id — identical to the batch
    // gate's corpus), fingerprint, probe + append via the shared
    // fingerprintProbeBatch, periodic in-stream compaction. Union of
    // per-batch pairs == the incremental batch answer (same
    // restricted-recount oracle as dedup_audio_energy_incremental).
    // (no fingerprint-null filter here either — same §4.4 rationale;
    // the energy kernel would run twice per row under the pushed-down
    // filter because EnergyHashExpr is nullable)
    "stream_dedup_audio" -> ((s, d) =>
      streamFingerprintDedupGate(s, d, "verify-sdaud-", ids =>
        audioTwinWavsOf(ids).select(col("doc_id").as("id"),
            graft.ops.Multimodal.wavEnergyHash64(col("payload"))
              .as("simhash")))),

    // STREAMING perceptual video dedup — the sixth family's streaming
    // member, closing the 6-family × batch/incremental/streaming
    // matrix on the ONE candidate-generation geometry: the
    // temporal-envelope fingerprint rides the real AVI container walk
    // per micro-batch; everything downstream is the shared machine.
    // Oracle = dedup_video_temporal_incremental's recount verbatim.
    "stream_dedup_video" -> ((s, d) =>
      streamFingerprintDedupGate(s, d, "verify-sdvid-", ids =>
        graft.ops.Dedup.videoTemporalHash64(videoTwinAvisOf(ids),
          "payload", "doc_id"))),

    "stream_dedup_simhash" -> ((s, d) => {
      import s.implicits._
      val isNew = graft.ops.Curation.hashBucket(col("doc_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val des = StoreProvider.docStoreFor(s, d, isNew)
      val indexDir =
        java.nio.file.Files.createTempDirectory("verify-sdx-")
      try {
        graft.streaming.StreamingDedup.seedSimhashIndex(
          Tables.documents(s, d).where(!isNew), "text", "doc_id",
          indexDir.toString)
        // periodic in-stream compaction (StreamCompactEvery): exercises
        // the small-files maintenance a long-running ingest needs,
        // under the gate — compaction is content-preserving, so the
        // oracle result is unchanged by construction
        val batchNo = new java.util.concurrent.atomic.AtomicInteger(0)
        drainStream(
            ingestFeed(des),
            "verify-sdx-ck-",
            perBatch = { b =>
              val pairs = graft.streaming.StreamingDedup
                .simhashProbeBatch(
                  b.select(
                    expr("CAST(substring(stream_id, 5, 30) AS BIGINT)")
                      .as("doc_id"),
                    col("payload").cast("string").as("text")),
                  "text", "doc_id", indexDir.toString)
              if (batchNo.incrementAndGet() % StreamCompactEvery == 0)
                graft.streaming.StreamingDedup.compactIndex(s,
                  indexDir.toString, Seq("band", "bkey"))
              pairs
            }) { r =>
            (r.getAs[Long]("a"), r.getAs[Long]("b"),
              r.getAs[Long]("hamming"))
          }
          .toDF("a", "b", "hamming")
          .orderBy(col("a"), col("b"))
      } finally graft.core.Fs.deleteRecursively(indexDir.toFile)
    }),

    // stream_dedup_simhash over the PRUNED index layout — the 100 TB
    // form: the signature index is partitionBy(pfx = hash(band, bkey)
    // mod parts), and each micro-batch's probe reads ONLY the
    // directories its own band keys hash into (partition pruning at
    // the scan; StreamingDedupPrunedSpec pins the PartitionFilters
    // evidence and the strict file subset; the measured crossover is
    // 3× at a 20M-row index / 16-doc batch). Per-batch
    // index I/O is bounded by the batch's keyspace instead of
    // re-reading the corpus-sized index every batch. Pair semantics
    // are identical by construction (shared verify core), so the
    // oracle is the same restricted recount. The index here is
    // GENERATION-ADDRESSED (GenIndex): probes resolve a MANIFEST
    // pointer, and the periodic in-stream compaction rewrites
    // partition-aware into a NEW generation + atomically flips the
    // pointer — the reader-safe maintenance form an object-store
    // deployment runs, correctness-gated here.
    "stream_dedup_simhash_pruned" -> ((s, d) => {
      import s.implicits._
      val isNew = graft.ops.Curation.hashBucket(col("doc_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val des = StoreProvider.docStoreFor(s, d, isNew)
      val root =
        java.nio.file.Files.createTempDirectory("verify-pdx-")
      try {
        graft.streaming.GenIndex.init(root.toString) { dir =>
          graft.streaming.StreamingDedup.seedSimhashIndexPruned(
            Tables.documents(s, d).where(!isNew), "text", "doc_id", dir)
        }
        val batchNo = new java.util.concurrent.atomic.AtomicInteger(0)
        drainStream(
            ingestFeed(des),
            "verify-pdx-ck-",
            perBatch = { b =>
              val pairs = graft.streaming.StreamingDedup
                .simhashProbeBatchPruned(
                  b.select(
                    expr("CAST(substring(stream_id, 5, 30) AS BIGINT)")
                      .as("doc_id"),
                    col("payload").cast("string").as("text")),
                  "text", "doc_id",
                  graft.streaming.GenIndex.currentGen(root.toString))
              if (batchNo.incrementAndGet() % StreamCompactEvery == 0)
                graft.streaming.GenIndex.compact(s, root.toString,
                  Seq("pfx"), partitionCols = Seq("pfx"))
              pairs
            }) { r =>
            (r.getAs[Long]("a"), r.getAs[Long]("b"),
              r.getAs[Long]("hamming"))
          }
          .toDF("a", "b", "hamming")
          .orderBy(col("a"), col("b"))
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // The minhash-LSH counterpart of stream_dedup_simhash, over the
    // SAME live doc-event feed (the doc store is session-cached, so
    // the two gated queries share one ingest): per micro-batch,
    // shingle + sign + band the arriving documents, probe the
    // persistent minhash band index, verify candidates by exact
    // Jaccard — shingled on demand, candidate-restricted, from the
    // document store — and append the batch's band keys. Same
    // batch-division invariance argument, so the oracle is the same
    // restricted recount as dedup_minhash_incremental.
    "stream_dedup_minhash" -> ((s, d) => {
      import s.implicits._
      val isNew = graft.ops.Curation.hashBucket(col("doc_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val des = StoreProvider.docStoreFor(s, d, isNew)
      val indexDir =
        java.nio.file.Files.createTempDirectory("verify-mdx-")
      try {
        graft.streaming.StreamingDedup.seedMinhashIndex(
          Tables.documents(s, d).where(!isNew), "text", "doc_id",
          indexDir.toString)
        drainStream(
            ingestFeed(des),
            "verify-mdx-ck-",
            perBatch = b => graft.streaming.StreamingDedup
              .minhashProbeBatch(
                b.select(
                  expr("CAST(substring(stream_id, 5, 30) AS BIGINT)")
                    .as("doc_id"),
                  col("payload").cast("string").as("text")),
                "text", "doc_id", indexDir.toString,
                docSource = Tables.documents(s, d))) { r =>
            (r.getAs[Long]("a"), r.getAs[Long]("b"),
              r.getAs[Double]("jaccard"))
          }
          .toDF("a", "b", "jaccard")
          .orderBy(col("a"), col("b"))
      } finally graft.core.Fs.deleteRecursively(indexDir.toFile)
    }),

    // stream_dedup_minhash over the PRUNED, generation-addressed index
    // layout — same pair semantics by construction (shared candidate/
    // verify core; the layout changes where index bytes live, never
    // which pairs exist), so the oracle is the same restricted recount.
    // Gates the pruned READ path of the minhash member end-to-end:
    // manifest-resolved generation, touched-∩-live directory read,
    // per-directory clustered appends, periodic generational
    // compaction.
    "stream_dedup_minhash_pruned" -> ((s, d) => {
      import s.implicits._
      val isNew = graft.ops.Curation.hashBucket(col("doc_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val des = StoreProvider.docStoreFor(s, d, isNew)
      val root =
        java.nio.file.Files.createTempDirectory("verify-pmdx-")
      try {
        graft.streaming.GenIndex.init(root.toString) { dir =>
          graft.streaming.StreamingDedup.seedMinhashIndexPruned(
            Tables.documents(s, d).where(!isNew), "text", "doc_id", dir)
        }
        val batchNo = new java.util.concurrent.atomic.AtomicInteger(0)
        drainStream(
            ingestFeed(des),
            "verify-pmdx-ck-",
            perBatch = { b =>
              val pairs = graft.streaming.StreamingDedup
                .minhashProbeBatchPruned(
                  b.select(
                    expr("CAST(substring(stream_id, 5, 30) AS BIGINT)")
                      .as("doc_id"),
                    col("payload").cast("string").as("text")),
                  "text", "doc_id",
                  graft.streaming.GenIndex.currentGen(root.toString),
                  docSource = Tables.documents(s, d))
              if (batchNo.incrementAndGet() % StreamCompactEvery == 0)
                graft.streaming.GenIndex.compact(s, root.toString,
                  Seq("pfx"), partitionCols = Seq("pfx"))
              pairs
            }) { r =>
            (r.getAs[Long]("a"), r.getAs[Long]("b"),
              r.getAs[Double]("jaccard"))
          }
          .toDF("a", "b", "jaccard")
          .orderBy(col("a"), col("b"))
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // The CONTAINMENT member of the streaming family, pruned layout —
    // the minhash member's probe/read/append verbatim (ONE band index
    // serves every measure) with the asymmetric |A∩B|/min >= 0.5
    // verify; oracle = the incremental containment restricted recount
    // (streaming over any batch division == the batch-global answer,
    // same argument as the jaccard member).
    "stream_dedup_containment_pruned" -> ((s, d) => {
      import s.implicits._
      val isNew = graft.ops.Curation.hashBucket(col("doc_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val des = StoreProvider.docStoreFor(s, d, isNew)
      val root =
        java.nio.file.Files.createTempDirectory("verify-pcdx-")
      try {
        graft.streaming.GenIndex.init(root.toString) { dir =>
          graft.streaming.StreamingDedup.seedMinhashIndexPruned(
            Tables.documents(s, d).where(!isNew), "text", "doc_id", dir)
        }
        val batchNo = new java.util.concurrent.atomic.AtomicInteger(0)
        drainStream(
            ingestFeed(des),
            "verify-pcdx-ck-",
            perBatch = { b =>
              val pairs = graft.streaming.StreamingDedup
                .containmentProbeBatchPruned(
                  b.select(
                    expr("CAST(substring(stream_id, 5, 30) AS BIGINT)")
                      .as("doc_id"),
                    col("payload").cast("string").as("text")),
                  "text", "doc_id",
                  graft.streaming.GenIndex.currentGen(root.toString),
                  docSource = Tables.documents(s, d),
                  threshold = 0.5)
              if (batchNo.incrementAndGet() % StreamCompactEvery == 0)
                graft.streaming.GenIndex.compact(s, root.toString,
                  Seq("pfx"), partitionCols = Seq("pfx"))
              pairs
            }) { r =>
            (r.getAs[Long]("a"), r.getAs[Long]("b"),
              r.getAs[Double]("containment"))
          }
          .toDF("a", "b", "containment")
          .orderBy(col("a"), col("b"))
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // The winnowing member of the streaming dedup family, same cached
    // doc-event feed: per micro-batch, winnow-fingerprint the arriving
    // documents, join the persistent fingerprint index on fp, count
    // shared fingerprints per candidate pair, keep pairs at the
    // minShared gate, append the batch's fingerprints. The shared
    // count is complete at emission (the batch holds its member's full
    // selection, the earlier member's is already indexed), so the
    // minShared gate is batch-division-invariant too; oracle = the
    // dedup_winnow_incremental restricted recount.
    "stream_dedup_winnow" -> ((s, d) => {
      import s.implicits._
      val isNew = graft.ops.Curation.hashBucket(col("doc_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val des = StoreProvider.docStoreFor(s, d, isNew)
      val indexDir =
        java.nio.file.Files.createTempDirectory("verify-wdx-")
      try {
        graft.streaming.StreamingDedup.seedWinnowIndex(
          Tables.documents(s, d).where(!isNew), "text", "doc_id",
          indexDir.toString)
        drainStream(
            ingestFeed(des),
            "verify-wdx-ck-",
            perBatch = b => graft.streaming.StreamingDedup
              .winnowProbeBatch(
                b.select(
                  expr("CAST(substring(stream_id, 5, 30) AS BIGINT)")
                    .as("doc_id"),
                  col("payload").cast("string").as("text")),
                "text", "doc_id", indexDir.toString)) { r =>
            (r.getAs[Long]("a"), r.getAs[Long]("b"),
              r.getAs[Long]("shared_fps"))
          }
          .toDF("a", "b", "shared_fps")
          .orderBy(col("a"), col("b"))
      } finally graft.core.Fs.deleteRecursively(indexDir.toFile)
    }),

    // stream_dedup_winnow over the PRUNED, generation-addressed index
    // layout (pfx = hash(fp) mod parts — the fingerprint itself is the
    // probe key). Shared-count completeness survives pruning: every
    // fingerprint two documents share is in the batch member's own
    // selection, so its directory is always among the probe's touched
    // prefixes. Oracle = the same restricted recount as the flat form.
    "stream_dedup_winnow_pruned" -> ((s, d) => {
      import s.implicits._
      val isNew = graft.ops.Curation.hashBucket(col("doc_id"),
        IncrementalSeed) < lit(IncrementalNewBp)
      val des = StoreProvider.docStoreFor(s, d, isNew)
      val root =
        java.nio.file.Files.createTempDirectory("verify-pwdx-")
      try {
        graft.streaming.GenIndex.init(root.toString) { dir =>
          graft.streaming.StreamingDedup.seedWinnowIndexPruned(
            Tables.documents(s, d).where(!isNew), "text", "doc_id", dir)
        }
        val batchNo = new java.util.concurrent.atomic.AtomicInteger(0)
        drainStream(
            ingestFeed(des),
            "verify-pwdx-ck-",
            perBatch = { b =>
              val pairs = graft.streaming.StreamingDedup
                .winnowProbeBatchPruned(
                  b.select(
                    expr("CAST(substring(stream_id, 5, 30) AS BIGINT)")
                      .as("doc_id"),
                    col("payload").cast("string").as("text")),
                  "text", "doc_id",
                  graft.streaming.GenIndex.currentGen(root.toString))
              if (batchNo.incrementAndGet() % StreamCompactEvery == 0)
                graft.streaming.GenIndex.compact(s, root.toString,
                  Seq("pfx"), partitionCols = Seq("pfx"))
              pairs
            }) { r =>
            (r.getAs[Long]("a"), r.getAs[Long]("b"),
              r.getAs[Long]("shared_fps"))
          }
          .toDF("a", "b", "shared_fps")
          .orderBy(col("a"), col("b"))
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // The SEMANTIC member of the streaming dedup family: embedding
    // ARRIVALS stream through the store (events carry vector ids —
    // floats don't round-trip through text payloads; production
    // events reference the vector store), and each micro-batch pulls
    // its vectors, signs them into the multi-table hyperplane
    // buckets, probes the persistent bucket index, and verifies
    // candidates by exact rounded cosine, candidate-restricted from
    // the vector store. A 50% split (StreamEmbNewBp) instead of the
    // text family's 10%: the i.i.d. gate embeddings yield only ~2
    // cosine pairs at sf0.01 and none touch a 10% bucket — at 50%
    // both do, so the probe path is actually exercised. No
    // maxBucket pruning (bucket size evolves mid-stream and a size
    // cut would break batch-division invariance; production caps
    // per-bucket probe fan-out instead). Oracle: the UNPRUNED
    // multi-table recount restricted to pairs touching a new vec.
    "stream_dedup_embedding" -> ((s, d) => {
      import s.implicits._
      val isNew = graft.ops.Curation.hashBucket(col("vec_id"),
        IncrementalSeed) < lit(StreamEmbNewBp)
      val ves = StoreProvider.embStoreFor(s, d, isNew)
      val indexDir =
        java.nio.file.Files.createTempDirectory("verify-cdx-")
      try {
        graft.streaming.StreamingDedup.seedCosineIndex(
          Tables.embeddings(s, d).where(!isNew), "vec_id", "embedding",
          indexDir.toString, NearDupPlanes, NearDupTables)
        drainStream(
            ingestFeed(ves),
            "verify-cdx-ck-",
            perBatch = b => graft.streaming.StreamingDedup
              .cosineProbeBatch(
                b.select(
                  expr("CAST(substring(stream_id, 5, 30) AS BIGINT)")
                    .as("vec_id")),
                Tables.embeddings(s, d), "vec_id", "embedding",
                indexDir.toString, NearDupThreshold,
                NearDupPlanes, NearDupTables)) { r =>
            (r.getAs[Long]("a"), r.getAs[Long]("b"),
              r.getAs[Double]("cosine"))
          }
          .toDF("a", "b", "cosine")
          .orderBy(col("a"), col("b"))
      } finally graft.core.Fs.deleteRecursively(indexDir.toFile)
    }),

    // stream_dedup_embedding over the PRUNED, generation-addressed
    // index layout (pfx = hash(tbl, bucket) mod parts). Same pair
    // semantics (shared bucket-probe/cosine-verify core), same oracle.
    "stream_dedup_embedding_pruned" -> ((s, d) => {
      import s.implicits._
      val isNew = graft.ops.Curation.hashBucket(col("vec_id"),
        IncrementalSeed) < lit(StreamEmbNewBp)
      val ves = StoreProvider.embStoreFor(s, d, isNew)
      val root =
        java.nio.file.Files.createTempDirectory("verify-pcdx-")
      try {
        graft.streaming.GenIndex.init(root.toString) { dir =>
          graft.streaming.StreamingDedup.seedCosineIndexPruned(
            Tables.embeddings(s, d).where(!isNew), "vec_id", "embedding",
            dir, planes = NearDupPlanes, tables = NearDupTables)
        }
        val batchNo = new java.util.concurrent.atomic.AtomicInteger(0)
        drainStream(
            ingestFeed(ves),
            "verify-pcdx-ck-",
            perBatch = { b =>
              val pairs = graft.streaming.StreamingDedup
                .cosineProbeBatchPruned(
                  b.select(
                    expr("CAST(substring(stream_id, 5, 30) AS BIGINT)")
                      .as("vec_id")),
                  Tables.embeddings(s, d), "vec_id", "embedding",
                  graft.streaming.GenIndex.currentGen(root.toString),
                  NearDupThreshold, planes = NearDupPlanes,
                  tables = NearDupTables)
              if (batchNo.incrementAndGet() % StreamCompactEvery == 0)
                graft.streaming.GenIndex.compact(s, root.toString,
                  Seq("pfx"), partitionCols = Seq("pfx"))
              pairs
            }) { r =>
            (r.getAs[Long]("a"), r.getAs[Long]("b"),
              r.getAs[Double]("cosine"))
          }
          .toDF("a", "b", "cosine")
          .orderBy(col("a"), col("b"))
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }),

    // Stream-stream event-time interval join: every click enriched
    // with ALL purchases of the same stream within the next hour —
    // the streaming counterpart of asof_join_forward (all matches in
    // the window, not the nearest). Watermarks on both sides + the
    // relative time bound keep join state inside `reach + lateness`
    // of the frontier: unbounded feeds, bounded memory. The lateness
    // horizon covers the replay window (~30-day corpus) so the
    // catch-up result is deterministic under any micro-batching; the
    // emitted (stream, click_version, purchase_version) matches are
    // hash-checked against the oracle's batch theta-join recount.
    "stream_interval_join" -> ((s, d) => {
      val es = StoreProvider.storeFor(s, d)
      import s.implicits._
      def feed() = graft.streaming.GraftEventSource.log(es)
      drainStream(
          graft.streaming.EventTimeAggs
            .intervalJoin(feed(), feed(), "click", "purchase",
              reach = "1 hour", lateness = "45 days"),
          "verify-sijoin-") { r =>
          (r.getAs[String]("stream_id"), r.getAs[Long]("left_version"),
            r.getAs[Long]("right_version"))
        }
        .toDF("stream_id", "click_version", "purchase_version")
        .orderBy(col("stream_id"), col("click_version"), col("purchase_version"))
    }),

    // LEFT-OUTER stream-stream interval join: clicks with no purchase
    // within the hour ALSO emit, with a NULL right side — the
    // enrichment-with-passthrough shape (conversion analysis over an
    // unbounded feed). A NULL row may only emit once the watermark
    // proves no match can still arrive, so on a finite replay the
    // final reach+lateness of the corpus would never flush: the query
    // unions a far-future sentinel pair (reserved stream, one event
    // per side so both watermark columns see it) into the single data
    // micro-batch — the post-batch watermark then clears every real
    // click's window and the full NULL set emits deterministically in
    // the no-data eviction batch, independent of micro-batching.
    "stream_interval_join_left" -> ((s, d) => {
      val es = StoreProvider.storeFor(s, d)
      import s.implicits._
      drainWithSentinel[(String, Long, Option[Long])](s, es,
          Seq("click", "purchase")) { (feed, lateness) =>
          graft.streaming.EventTimeAggs
            .intervalJoinLeft(feed(), feed(), "click", "purchase",
              reach = "1 hour", lateness = lateness)
        } { r =>
          val sid = r.getAs[String]("stream_id")
          if (sid == "__sentinel__") None
          else Some((sid, r.getAs[Long]("left_version"),
            Option(r.getAs[java.lang.Long]("right_version")).map(_.toLong)))
        }
        .toDF("stream_id", "click_version", "purchase_version")
        .orderBy(col("stream_id"), col("click_version"),
          col("purchase_version"))
    }),

    // Spark's NATIVE streaming session windows (session_window +
    // watermark, append mode) — the built-in counterpart of the
    // custom flatMapGroupsWithState sessionizer in stream_sessions;
    // both belong in the inventory because they trade differently:
    // the native operator gets merging/state/timeout handling from
    // the engine, the custom one controls its emission contract.
    // Append mode only emits a session once the watermark passes its
    // end, so the far-future sentinel closes every real session
    // deterministically; the oracle is the plain gaps-and-islands
    // recount (native session end = last event + gap).
    "stream_sessions_native" -> ((s, d) => {
      val es = StoreProvider.storeFor(s, d)
      import s.implicits._
      drainWithSentinel[(String, Long, Long, Long)](s, es, Seq("S")) {
          (feed, lateness) =>
          feed()
            .withColumn("event_time",
              timestamp_micros(expr("timestamp_ns div 1000")))
            .withWatermark("event_time", lateness)
            .groupBy(session_window(col("event_time"), "30 minutes"),
              col("stream_id"))
            .agg(count(lit(1)).as("n_events"))
            .select(col("stream_id"),
              unix_micros(col("session_window.start")).as("start_us"),
              unix_micros(col("session_window.end")).as("end_us"),
              col("n_events"))
        } { r =>
          val sid = r.getAs[String]("stream_id")
          if (sid == "__sentinel__") None
          else Some((sid, r.getAs[Long]("start_us"), r.getAs[Long]("end_us"),
            r.getAs[Long]("n_events")))
        }
        .toDF("stream_id", "start_us", "end_us", "n_events")
        .orderBy(col("stream_id"), col("start_us"))
    }),

    // STREAMING gap sessionization (30 min) — the stateful-operator
    // counterpart of batch events_sessionize: flatMapGroupsWithState
    // holds ONE (start, last, count) triple per stream (O(streams)
    // state, checkpointed) and emits a session the moment a gap closes
    // it. Time is fed at µs so the oracle's µs-truncated reader runs
    // identical gap arithmetic; each stream's trailing session is
    // still open when the replay ends, so the oracle recount drops its
    // last gaps-and-islands session per stream.
    "stream_sessions" -> ((s, d) => {
      val es = StoreProvider.storeFor(s, d)
      import s.implicits._
      val feed = graft.streaming.GraftEventSource.log(es)
        .select(col("stream_id"),
          expr("timestamp_ns div 1000").as("timestamp_ns"))
        .as[graft.streaming.EventTimeAggs.SessionInput]
      drainStream(
          graft.streaming.EventTimeAggs
            .sessionizeFeed(feed, gapNs = 30L * 60 * 1000000L) // 30 min in µs
            .toDF(),
          "verify-ssess-") { r =>
          (r.getAs[String]("stream_id"), r.getAs[Long]("start_ns"),
            r.getAs[Long]("end_ns"), r.getAs[Long]("events"))
        }
        .toDF("stream_id", "start_us", "end_us", "n_events")
        .orderBy(col("stream_id"), col("start_us"))
    }),

    // Streaming trending: tumbling 1h windows per event_name with a
    // 10-min watermark, APPEND mode — only windows the watermark
    // CLOSED are emitted (state dropped; unbounded feeds, bounded
    // memory) — then top-3 per closed window ranked in the drained
    // batch layer. The oracle recounts and applies the pinned close
    // rule (window_end <= final watermark; EventTimeAggsSpec pins the
    // boundary).
    "stream_trending" -> ((s, d) => {
      val es = StoreProvider.storeFor(s, d)
      import s.implicits._
      drainStream(
          graft.streaming.EventTimeAggs
            .tumblingCounts(es, "1 hour", "10 minutes"),
          "verify-strend-") { r =>
          (r.getAs[java.sql.Timestamp]("window_start").getTime,
            r.getAs[String]("event_name"), r.getAs[Long]("n"))
        }
        .toDF("window_start_ms", "event_name", "n")
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("window_start_ms"))
            .orderBy(col("n").desc, col("event_name"))))
        .where(col("rk") <= 3)
        .select(col("window_start_ms"), col("event_name"), col("n"),
          col("rk").cast("long").as("rk"))
        .orderBy(col("window_start_ms"), col("rk"))
    })
  )

  /** The single-partition EPSUB target: user-42's home partition, so it
    * is non-empty at every scale factor (user 42 always exists). The
    * oracle derives the same id through `userPidValues`.
    */
  private val PsubPartition =
    graft.core.Ids.partitionIdForStream("user-42", StoreProvider.NumPartitions)

  /** Run a streaming query to completion over the store's current
    * history (fresh temp checkpoint => deterministic full catch-up),
    * shipping each micro-batch through `perBatch` (driver-bounding
    * aggregation or identity) and collecting the resulting rows. The
    * shared scaffolding of every `stream_*` gated query; the temp
    * checkpoint dir is always removed.
    */
  /** The ONE scaffold behind the streaming multimodal dedup gates
    * (`stream_dedup_image`/`_audio`/`_video`) — a family differs ONLY
    * in its fingerprint function, so the seed / event-source /
    * per-batch-synthesis / probe / in-stream-compaction plumbing
    * exists once and cannot drift between families. `fpOf` maps a
    * (doc_id) frame to its (id, simhash) fingerprints; the per-batch
    * corpora are pure functions of doc_id (the `dhashTwinBmpsOf`
    * discipline), so a streamed doc and the batch gate's doc carry
    * identical payloads and the oracle is each family's incremental
    * recount verbatim.
    */
  private def streamFingerprintDedupGate(s: SparkSession, d: String,
      prefix: String, fpOf: DataFrame => DataFrame): DataFrame = {
    import s.implicits._
    val isNew = graft.ops.Curation.hashBucket(col("doc_id"),
      IncrementalSeed) < lit(IncrementalNewBp)
    val des = StoreProvider.docStoreFor(s, d, isNew)
    val indexDir = java.nio.file.Files.createTempDirectory(prefix)
    try {
      graft.streaming.StreamingDedup.seedFingerprintIndex(
        fpOf(Tables.documents(s, d).where(!isNew).select(col("doc_id"))),
        indexDir.toString)
      val batchNo = new java.util.concurrent.atomic.AtomicInteger(0)
      drainStream(
          ingestFeed(des),
          prefix + "ck-",
          perBatch = { b =>
            val ids = b.select(
              expr("CAST(substring(stream_id, 5, 30) AS BIGINT)")
                .as("doc_id"))
            val pairs = graft.streaming.StreamingDedup
              .fingerprintProbeBatch(fpOf(ids), indexDir.toString)
            if (batchNo.incrementAndGet() % StreamCompactEvery == 0)
              graft.streaming.StreamingDedup.compactIndex(s,
                indexDir.toString, Seq("band", "bkey"))
            pairs
          }) { r =>
          (r.getAs[Long]("a"), r.getAs[Long]("b"),
            r.getAs[Long]("hamming"))
        }
        .toDF("a", "b", "hamming")
        .orderBy(col("a"), col("b"))
    } finally graft.core.Fs.deleteRecursively(indexDir.toFile)
  }

  /** Streaming state-store tuning, applied by every streaming scaffold
    * before its query starts (the confs are captured per query at
    * start, so this reaches the gated queries in ANY session — the
    * driver's Verify, the bench, the probes). RocksDB provider +
    * changelog checkpointing + join state format v3:
    *
    *  - format v3 keeps a stream-stream join's FOUR state stores
    *    (KeyToNumValues/KeyWithIndexToValue × 2 sides) in ONE RocksDB
    *    instance per partition via virtual column families — the
    *    per-partition commit count per micro-batch drops 4× (measured
    *    on this box: `stream_interval_join_left` 17.7 → 5.8 s,
    *    `stream_interval_join` 9.9 → 3.9 s at 32 cores; the plain
    *    provider swap without v3 moved nothing, so the win is the
    *    store-count collapse, not RocksDB itself);
    *  - changelog checkpointing commits the per-batch DELTA instead of
    *    snapshot files — at 100 TB-scale state a snapshot-per-commit
    *    is unshippable, and at bench scale it measures within noise of
    *    snapshots (5.8 vs 5.3 s), so the scale-correct setting ships.
    *
    * Parameterised, not local[32]-tuned: state partitions stay
    * `spark.sql.shuffle.partitions` (= SPARK_GRAFT_CPUS in the driver
    * mains). Results are provider-independent (the operator semantics
    * live above the store); the oracle gate and EventTimeAggsSpec's
    * provider-equality pin hold that line.
    */
  private[graft] def tuneStateStore(s: SparkSession): Unit = {
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    s.conf.set("spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled", "true")
    s.conf.set("spark.sql.streaming.join.stateFormatVersion", "3")
  }

  private def drainStream[T](stream: DataFrame, ckPrefix: String,
      perBatch: DataFrame => DataFrame = identity)(
      extract: org.apache.spark.sql.Row => T): Seq[T] = {
    tuneStateStore(stream.sparkSession)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[T]()
    val ck = java.nio.file.Files.createTempDirectory(ckPrefix)
    val q = stream.writeStream
      .option("checkpointLocation", ck.toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        perBatch(batch).collect().foreach(r => got.add(extract(r)))
      }
      .start()
    try graft.streaming.Drain.processAllAvailable(q, s"drainStream($ckPrefix)")
    finally { q.stop(); graft.core.Fs.deleteRecursively(ck.toFile) }
    import scala.jdk.CollectionConverters._
    got.asScala.toSeq
  }

  /** Run a watermark-dependent streaming query over the store's event
    * log UNIONED with a far-future sentinel feed, in TWO phases — the
    * shared scaffold of every gated query whose results only flush
    * once the watermark passes the corpus (outer-join NULL rows,
    * closed session windows):
    *
    *   - phase 1: one data micro-batch (every committed event + one
    *     sentinel event per name in `sentinelNames`, at maxTs + 90
    *     days, on the reserved `__sentinel__` stream) — the post-batch
    *     watermark then clears every real row's window;
    *   - phase 2: one more sentinel file forces a REAL batch under the
    *     phase-1 watermark (results emit in the batch AFTER the
    *     advance, and a no-data batch is not guaranteed before
    *     processAllAvailable returns).
    *
    * `build` receives a () => DataFrame feed factory (fresh lineage
    * per call — stream-stream joins need independent readers) and the
    * watermark delay STRING it must pass to `withWatermark` — derived
    * from `latenessDays` here, so one value is the single source of
    * truth: the sentinel sits at maxTs + 2·latenessDays, so the
    * post-batch watermark lands at maxTs + latenessDays — past every
    * real row's window, but only because build's delay matches by
    * construction (a larger delay would put the watermark BELOW the
    * corpus frontier and nothing would ever flush).
    * `extract` runs in the sink on materialized batch rows — sentinel
    * filtering belongs THERE (return None), never on the streaming
    * plan, where Catalyst pushes it below joins and stalls the
    * min-of-sides watermark.
    */
  private def drainWithSentinel[T](s: SparkSession, es: graft.api.EventStore,
      sentinelNames: Seq[String], latenessDays: Int = 45)(
      build: (() => DataFrame, String) => DataFrame)(
      extract: org.apache.spark.sql.Row => Option[T]): Seq[T] = {
    import scala.jdk.CollectionConverters._
    tuneStateStore(s)
    val lateness = s"$latenessDays days"
    val maxNs = es.events().agg(max(col("timestamp_ns"))).head.getLong(0)
    val farNs = maxNs + 2L * latenessDays * 24 * 3600 * 1000000000L
    // both temp dirs are created inside the try: a failure anywhere
    // before the query starts (sentinel write, build, start) must not
    // leak them
    var sentinelDir: java.nio.file.Path = null
    var ck: java.nio.file.Path = null
    try {
      sentinelDir = java.nio.file.Files.createTempDirectory("verify-sentinel-")
      def writeSentinels(ns: Long, suffix: String): Unit = {
        val rows = sentinelNames.zipWithIndex.map { case (n, i) =>
          org.apache.spark.sql.Row(s"sent-$suffix-$i", s"sent-$suffix-$i",
            "sentinel", 0, -1L, -1L, "__sentinel__", n, ns, null, null)
        }
        s.createDataFrame(rows.asJava, graft.core.EventSchema.schema)
          .coalesce(1).write.mode("append").parquet(sentinelDir.toString)
      }
      writeSentinels(farNs, "a")
      // the sentinel directory is not a store: it keeps Spark's file source
      def feed() = graft.streaming.GraftEventSource.log(es)
        .unionByName(s.readStream
          .schema(graft.core.EventSchema.schema)
          .parquet(sentinelDir.toString))
      val got = new java.util.concurrent.ConcurrentLinkedQueue[T]()
      ck = java.nio.file.Files.createTempDirectory("verify-sentinel-ck-")
      val q = build(feed _, lateness).writeStream
        .option("checkpointLocation", ck.toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.collect().foreach(r => extract(r).foreach(got.add))
        }
        .start()
      val leg = s"drainWithSentinel(${sentinelNames.mkString(",")})"
      try {
        graft.streaming.Drain.processAllAvailable(q, s"$leg phase 1")
        writeSentinels(farNs + 86400L * 1000000000L, "b")
        graft.streaming.Drain.processAllAvailable(q, s"$leg phase 2")
      } finally q.stop()
      got.asScala.toSeq
    } finally {
      if (ck != null) graft.core.Fs.deleteRecursively(ck.toFile)
      if (sentinelDir != null)
        graft.core.Fs.deleteRecursively(sentinelDir.toFile)
    }
  }

  /** Per-(sub, partition) delivery aggregate row for `es_psub_deliver`
    * — see that query's comment for what each checksum pins. */
  final case class DeliveryAgg(sub: String, partition_id: Int,
      n_events: Long, min_seq: Long, max_seq: Long, seq_sum: Long,
      ord_sum: Long, name_sum: Long)

  /** Modulus bounding the rank-weighted checksum terms so the running
    * Long sums stay far from overflow at any bench scale (n²/2·10⁶ ≈
    * 5e18 even at 3M events/partition). Mirrored literally in the
    * es_psub_deliver oracle. */
  private[graft] val ChecksumMod = 1000003L

  /** First 4 bytes of md5(s) as an unsigned big-endian int, mod
    * [[ChecksumMod]] — the DuckDB mirror is
    * `CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) % 1000003`. */
  private def md5Mod(md5: java.security.MessageDigest, s: String): Long = {
    val d = md5.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    v % ChecksumMod
  }

  /** Run a subscription to completion (same backlog-proportional window
    * and fresh-checkpoint policy as [[runSubscription]]) but hand each
    * delivered batch to a FOLD callback instead of accumulating rows —
    * the consumer keeps bounded state, the delivery itself is unchanged.
    */
  private[graft] def foldSubscription(es: graft.api.EventStore,
      matcher: graft.streaming.Subscriptions.Matcher,
      byStream: Boolean = false)(
      onBatch: Seq[org.apache.spark.sql.Row] => Unit): Unit = {
    import graft.streaming.Subscriptions._
    val ck = java.nio.file.Files.createTempDirectory("verify-sub-")
    // Backlog-proportional admission: with a FIXED window the
    // micro-batch COUNT grows with history and catch-up cost becomes
    // trigger round-trips (the r7 10× leg measured 7.4× on
    // es_psub_deliver). A backfill consumer sizes its window to the
    // backlog; backlog/2 keeps catch-up at 2-3 batches at any scale —
    // measured at 10×: /4 → 6.4×, /2 → 4.7×, FULL backlog → 7.0×
    // (one giant batch loses batch-to-batch pipelining; a couple of
    // window-bounded batches is the sweet spot). WINDOW stays the
    // flow-control surface for live tails — this only widens the bulk
    // catch-up batches. This is the ONE home of that measured policy;
    // runSubscription delegates here.
    val backlog = graft.streaming.GraftEventSource.backlog(es)
    val window = math.max(50000L, backlog / 2)
      .min(Int.MaxValue.toLong).toInt
    val q = deliver(subscribe(es, matcher, From.Value(0), window = window),
      ck.toString, byStream)(onBatch)
    try graft.streaming.Drain.processAllAvailable(q, s"foldSubscription($matcher)")
    finally { q.stop(); graft.core.Fs.deleteRecursively(ck.toFile) }
  }

  /** Run a subscription to completion over the store's current history
    * (fresh checkpoint ⇒ deterministic full catch-up) and collect every
    * delivered row through `extract` — [[foldSubscription]] with an
    * accumulate-everything fold, for gated queries whose oracle needs
    * the rows themselves.
    */
  private def runSubscription[T](es: graft.api.EventStore,
      matcher: graft.streaming.Subscriptions.Matcher,
      byStream: Boolean)(extract: org.apache.spark.sql.Row => T): Seq[T] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[T]()
    foldSubscription(es, matcher, byStream) { rows =>
      rows.foreach(r => got.add(extract(r)))
    }
    import scala.jdk.CollectionConverters._
    got.asScala.toSeq
  }

  // ------------------------------------------------------------------
  // DuckDB oracle SQL — same names, same column aliases, same ordering.
  // Mirrors that depend on shared constant tables (lang markers,
  // simhash bit width) are generated from the same Scala definitions
  // the Spark operators use, so the two sides cannot drift.
  // ------------------------------------------------------------------

  /** SQL mirror of TextAnalysis.tokenOccurrences (same regex escaping). */
  private def sqlTokenCount(word: String): String = {
    val w = graft.ops.TextAnalysis.escapeRegex(word).replace("'", "''")
    s"CAST((length(d2) - length(regexp_replace(d2, ' $w ', ' ', 'g'))) / ${word.length + 1} AS BIGINT)"
  }

  /** SQL mirror of TextAnalysis.tokenSetOccurrences — one alternation
    * pass over d2, counted matches.
    */
  private def sqlTokenSetCount(words: Seq[String]): String = {
    val alt = words
      .map(w => graft.ops.TextAnalysis.escapeRegex(w).replace("'", "''"))
      .mkString("|")
    s"CAST(len(regexp_extract_all(d2, ' (?:$alt) ')) AS BIGINT)"
  }

  /** SQL mirror of TextAnalysis.langScore. */
  private def sqlLangScore(lang: String): String =
    sqlTokenSetCount(graft.ops.TextAnalysis.LangMarkers.toMap.apply(lang))

  private def langIdOracle: String = {
    val langs = graft.ops.TextAnalysis.LangMarkers.map(_._1)
    val scoreCols = langs.map(l => s"${sqlLangScore(l)} AS score_$l").mkString(",\n    ")
    val best = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
    val cases = langs.map(l => s"WHEN score_$l = best THEN '$l'").mkString("\n      ")
    s"""WITH raw AS (
       |  SELECT doc_id, lang,
       |    regexp_replace(' ' || text || ' ', ' ', '  ', 'g') AS d2
       |  FROM documents),
       |scores AS (
       |  SELECT doc_id, lang,
       |    $scoreCols
       |  FROM raw),
       |scored AS (
       |  SELECT *, $best AS best FROM scores)
       |SELECT doc_id, lang,
       |  CASE WHEN best <= 0 THEN 'und'
       |      $cases
       |      ELSE 'und' END AS pred_lang,
       |  score_en
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** Shared CTE chain ending in `fp(doc_id, simhash)` — `bits`-wide
    * simhash fingerprints, mirroring Dedup.simhash exactly: unigram
    * tokens, or word 3-shingles when `shingled` (the discriminative
    * feature space simhashPairs uses).
    */
  private def simhashCte(bits: Int, shingled: Boolean = false): String = {
    // bit i of the digest (MSB-first): hex digit (i-1)/4, in-digit bit
    // 3-(i-1)%4 — the full-digest scheme of Dedup.simhash (one md5
    // carries all 128 weight positions; no chained seeded hashes)
    val sums = (1 to bits).map { i =>
      val digit = (i - 1) / 4 + 1
      val mask = 1 << (3 - (i - 1) % 4)
      s"sum(CASE WHEN ((strpos('0123456789abcdef', substr(th, $digit, 1)) - 1)" +
        s" // $mask) % 2 = 1 THEN 1 ELSE -1 END) AS s$i"
    }.mkString(",\n    ")
    // variadic concat, not a `||` chain: DuckDB binds `||` left-nested
    // and hits its recursion limit at 128 terms
    val concatBits = (1 to bits).map(i =>
      s"CASE WHEN s$i > 0 THEN '1' ELSE '0' END").mkString("concat(", ", ", ")")
    val hashed =
      if (shingled)
        s"""$shinglesCte,
           |hashed AS (SELECT id AS doc_id, md5(sh) AS th FROM sh)""".stripMargin
      else
        s"""toks AS (
           |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |hashed AS (SELECT doc_id, md5(tok) AS th FROM toks)""".stripMargin
    s"""$hashed,
       |sums AS (
       |  SELECT doc_id,
       |    $sums
       |  FROM hashed GROUP BY doc_id),
       |fp AS (SELECT doc_id, $concatBits AS simhash FROM sums)""".stripMargin
  }

  private def simhashOracle: String =
    s"""WITH ${simhashCte(16)}
       |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin

  /** All-pairs hamming over the 64-bit shingled fingerprints — the
    * banded Spark path is exact for distance <= bands-1, so the oracle
    * can brute-force. 64/hamming-3 is the gated headline config (the
    * canonical Manku WWW'07 setting with 16-bit band keys).
    */
  private def simhashPairsOracle: String = simhashPairsOracleAt(64, 3)

  /** 128-bit variant — 8 bands of 16-bit keys, exact to hamming 7. */
  private def simhashPairs128Oracle: String = simhashPairsOracleAt(128, 7)

  private def simhashPairsOracleAt(bits: Int, maxDistance: Int,
      extraCte: String = "", extraWhere: String = ""): String = {
    // list_sum over a list literal, not a `+` chain (binder depth)
    val ham = (1 to bits).map(i =>
      s"CASE WHEN substr(x.simhash, $i, 1) <> substr(y.simhash, $i, 1) THEN 1 ELSE 0 END")
      .mkString("list_sum([", ", ", "])")
    s"""WITH ${simhashCte(bits, shingled = true)}$extraCte
       |SELECT x.doc_id AS a, y.doc_id AS b, CAST($ham AS BIGINT) AS hamming
       |FROM fp x JOIN fp y ON x.doc_id < y.doc_id
       |WHERE $ham <= $maxDistance$extraWhere
       |ORDER BY a, b""".stripMargin
  }

  /** Winnowing CTE chain ending in `wf(doc_id, pos, fp)` — the SQL
    * mirror of Dedup.winnowFingerprints(k=3, w=4): per-position 32-bit
    * k-gram hashes (first 8 md5 hex digits), rightmost-min selection
    * per window expressed as max-index-of-min-value, dedup over the
    * pos·2³²+fp encoding (no struct equality).
    */
  private def winnowCte: String = {
    def hexDigit(i: Int) =
      s"(strpos('0123456789abcdef', substr(s, $i, 1)) - 1)"
    val hexVal = (1 to 8).map(i =>
      s"${1L << (4 * (8 - i))} * ${hexDigit(i)}").mkString("(", " + ", ")")
    s"""wt AS (SELECT doc_id, string_split(text, ' ') AS t,
       |    len(string_split(text, ' ')) - 2 AS m
       |  FROM documents),
       |wh AS (SELECT doc_id, m,
       |    list_transform(
       |      list_transform(generate_series(1, greatest(m, 0)),
       |        i -> substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 8)),
       |      s -> $hexVal) AS h
       |  FROM wt),
       |wsel AS (SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, m - 3), j ->
       |      CAST(list_max(list_filter(generate_series(j, j + 3),
       |          p -> h[p] = list_min(h[j : j + 3]))) AS BIGINT)
       |        * 4294967296
       |        + CAST(list_min(h[j : j + 3]) AS BIGINT))) AS sels
       |  FROM wh WHERE m >= 4),
       |wf AS (SELECT doc_id,
       |    CAST(e // 4294967296 AS BIGINT) AS pos,
       |    CAST(e % 4294967296 AS BIGINT) AS fp
       |  FROM (SELECT doc_id, unnest(sels) AS e FROM wsel))""".stripMargin
  }

  private def winnowOracle: String =
    s"""WITH $winnowCte
       |SELECT doc_id, pos, fp FROM wf ORDER BY doc_id, pos, fp""".stripMargin

  private def winnowPairsOracle: String =
    s"""WITH $winnowCte,
       |wd AS (SELECT DISTINCT doc_id, fp FROM wf)
       |SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared_fps
       |FROM wd a JOIN wd b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY a, b""".stripMargin

  /** dedup_winnow_incremental: the pairs oracle restricted to
    * new-touching pairs (same md5-bucket batch as the other
    * incremental oracles). */
  private def winnowIncrementalOracle: String = {
    val bucket = s"(${sqlHexBucket(s"md5('$IncrementalSeed:' || doc_id)")} % 10000)"
    s"""WITH $winnowCte,
       |wd AS (SELECT DISTINCT doc_id, fp FROM wf),
       |newids AS (SELECT doc_id AS id FROM documents
       |  WHERE $bucket < $IncrementalNewBp)
       |SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared_fps
       |FROM wd a JOIN wd b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |WHERE a.doc_id IN (SELECT id FROM newids)
       |  OR b.doc_id IN (SELECT id FROM newids)
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY a, b""".stripMargin
  }

  /** dedup_simhash_incremental: the all-pairs hamming oracle at the
    * headline 64/3 config, restricted to pairs touching the same
    * deterministic ~10% "new batch" the minhash incremental oracle
    * uses (md5 bucket mirror of Curation.hashBucket).
    */
  private def simhashIncrementalOracle: String = {
    val bucket = s"(${sqlHexBucket(s"md5('$IncrementalSeed:' || doc_id)")} % 10000)"
    simhashPairsOracleAt(64, 3,
      extraCte =
        s""",
           |newids AS (SELECT doc_id AS id FROM documents WHERE $bucket < $IncrementalNewBp)""".stripMargin,
      extraWhere =
        """
          |  AND (x.doc_id IN (SELECT id FROM newids)
          |    OR y.doc_id IN (SELECT id FROM newids))""".stripMargin)
  }

  /** Shared CTE: distinct word k-shingles ending in `alias(id, sh)`
    * (static series bound — this DuckDB version lacks lateral
    * generate_series). ONE construction mirrors Dedup.wordShingles for
    * every shingle width the oracles use.
    */
  private def shinglesCteFor(k: Int, src: String = "documents",
      alias: String = "sh"): String = {
    val terms = (0 until k).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""${alias}_t AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       |$alias AS (
       |  SELECT DISTINCT doc_id AS id, $terms AS sh
       |  FROM ${alias}_t, generate_series(1, 65536) s$alias(i)
       |  WHERE i <= len(t) - ${k - 1})""".stripMargin
  }

  private def shinglesCte: String = shinglesCteFor(3)

  private def minhashLshOracle: String = minhashOracleFor(
    """cand AS (
      |  SELECT DISTINCT x.id AS a, y.id AS b
      |  FROM bands x JOIN bands y
      |    ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id)""".stripMargin)

  /** dedup_minhash_incremental: identical pipeline, but candidates
    * come from the NEW batch's bands probing the full band index —
    * the oracle mirrors the membership predicate (same md5 bucket as
    * Curation.hashBucket) and the least/greatest pair canonicalization.
    */
  private def incrementalCandCte: String =
    s"""newids AS (
       |  SELECT doc_id AS id FROM documents
       |  WHERE (${sqlHexBucket(s"md5('$IncrementalSeed:' || doc_id)")} % 10000)
       |    < $IncrementalNewBp),
       |cand AS (
       |  SELECT DISTINCT least(x.id, y.id) AS a, greatest(x.id, y.id) AS b
       |  FROM bands x JOIN newids nx ON nx.id = x.id
       |  JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.id <> y.id)""".stripMargin

  private def minhashIncrementalOracle: String =
    minhashOracleFor(incrementalCandCte)

  /** dedup_containment_incremental: the SAME probe candidate CTE as
    * the minhash incremental oracle (one band index, one probe,
    * every measure), verified with containment ≥ 0.5.
    */
  private def containmentIncrementalOracle: String = minhashOracleFor(
    incrementalCandCte,
    measure = "round(CAST(ni AS DOUBLE) / least(na.n, nb.n), 6)",
    mName = "containment", minVal = 0.5)

  /** sig + bands CTEs mirroring Dedup.minhashSignatures/bandKeys'
    * derived-seed scheme (one md5 per shingle, four 28-bit digest
    * words mixed affinely per seed mod 2³¹−1) — generated from the
    * SAME coefficient table the Spark side uses, so the two cannot
    * drift. Expects an upstream CTE `sh(id, sh)`. */
  private def minhashSigBandsCtes: String = {
    val words = graft.ops.Dedup.MinhashWordOffsets.zipWithIndex
      .map { case (off, i) =>
        s"CAST(('0x' || substr(hx, $off, 7)) AS BIGINT) AS u${i + 1}"
      }.mkString(", ")
    val mins = (0 until 8).map { j =>
      val c = graft.ops.Dedup.MinhashCoefs(j)
      s"min((${c(0)}*u1 + ${c(1)}*u2 + ${c(2)}*u3 + ${c(3)}*u4 + ${c(4)}) " +
        s"% ${graft.ops.Dedup.MinhashPrime}) AS h$j"
    }.mkString(", ")
    def bk(a: Int, b: Int) =
      s"CAST(h$a AS VARCHAR) || ':' || CAST(h$b AS VARCHAR)"
    s"""sigw AS (SELECT id, $words
       |  FROM (SELECT id, md5(sh) AS hx FROM sh) hq),
       |sig AS (SELECT id, $mins FROM sigw GROUP BY id),
       |bands AS (
       |  SELECT id, 0 AS band, ${bk(0, 1)} AS bkey FROM sig UNION ALL
       |  SELECT id, 1, ${bk(2, 3)} FROM sig UNION ALL
       |  SELECT id, 2, ${bk(4, 5)} FROM sig UNION ALL
       |  SELECT id, 3, ${bk(6, 7)} FROM sig)""".stripMargin
  }

  /** `measure`/`mName` parameterize the verify arithmetic (Jaccard by
    * default; dedup_containment_lsh swaps in the asymmetric
    * |A∩B|/min); `minVal` ≥ 0 adds the threshold filter (repeated
    * expression — SQL WHERE cannot reference the select alias).
    */
  private def minhashOracleFor(candCte: String,
      measure: String = "round(CAST(ni AS DOUBLE) / (na.n + nb.n - ni), 6)",
      mName: String = "jaccard", minVal: Double = -1.0): String = {
    val filt = if (minVal >= 0) s"\nWHERE $measure >= $minVal" else ""
    s"""WITH $shinglesCte,
       |$minhashSigBandsCtes,
       |$candCte,
       |inter AS (
       |  SELECT c.a, c.b, count(*) AS ni
       |  FROM cand c
       |  JOIN sh sa ON sa.id = c.a
       |  JOIN sh sb ON sb.id = c.b AND sa.sh = sb.sh
       |  GROUP BY c.a, c.b),
       |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id)
       |SELECT i.a, i.b,
       |  $measure AS $mName
       |FROM inter i
       |JOIN sizes na ON na.id = i.a
       |JOIN sizes nb ON nb.id = i.b$filt
       |ORDER BY i.a, i.b""".stripMargin
  }

  /** dedup_containment_lsh: the LSH-banded candidate CTE shared
    * verbatim with dedup_minhash_lsh, verified with CONTAINMENT ≥ 0.5
    * instead of Jaccard — the band geometry is deterministic, so the
    * oracle mirrors the tier's recall contract exactly.
    */
  private def containmentLshOracle: String = minhashOracleFor(
    """cand AS (
      |  SELECT DISTINCT x.id AS a, y.id AS b
      |  FROM bands x JOIN bands y
      |    ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id)""".stripMargin,
    measure = "round(CAST(ni AS DOUBLE) / least(na.n, nb.n), 6)",
    mName = "containment", minVal = 0.5)

  /** Posting-list cap shared by the Spark query and its oracle. */
  private val NgramMaxDf = 64

  /** Incremental-dedup "new batch" membership: md5 bucket under 1000
    * bp = a deterministic ~10% of documents play the ingest batch.
    */
  private val IncrementalSeed = "ingest"
  private val IncrementalNewBp = 1000

  /** Tombstone-delete victim set for ann_ivfpq_persistent_delete: md5
    * bucket under 500 bp = a deterministic ~5% of vectors get deleted,
    * drawn independently of the seed/append split so victims land on
    * BOTH sides (seed-side deletes exercise compaction's physical
    * removal, append-side deletes the query-time tombstone mask).
    */
  private val DeleteSeed = "del"
  private val DeleteBp = 500

  /** Filtered-search allow-set for ann_ivfpq_persistent_filtered: md5
    * bucket ≥ 2000 bp = a deterministic ~80% of vectors are allowed —
    * selective enough that the filter visibly reshapes every query's
    * top-k, permissive enough that k survivors exist in the probed
    * lists at the gate's nprobe.
    */
  private val FilterSeed = "flt"
  private val FilterBp = 2000

  /** dedup_substring_spans geometry: 8-token gram anchors (spans are
    * ≥ minRun + k − 1 = 9 tokens — long enough that the synthetic
    * corpus's planted near-dup mutations break most spans, short
    * enough that some survive), runs of ≥ 2 consecutive duplicated
    * grams.
    */
  private val SubstrK = 8
  private val SubstrMinRun = 2

  /** ann_ivfpq_refine re-rank depth: the ADC pass hands the exact
    * re-ranker 50 candidates per query — 10× the final k, the
    * standard refine ratio; the refine read is RefineR × Q raw
    * vectors, a query-batch constant.
    */
  private[graft] val RefineR = 50

  /** ann_binary_hamming: sign-bit binary quantization geometry — all
    * 64 dims pack into ONE long word, and the Hamming pass hands the
    * shared exact-refine tail the same 50-candidate depth as RefineR
    * (1 bit/dim leaves dense Hamming ties, so the wide rerank is what
    * buys the recall back).
    */
  private[graft] val BinDims = 64
  private[graft] val BinRerank = 50

  /** text_bpe_encode: merge-table depth for the apply-merges corpus
    * encode. 12 is the gated-geometry regime (multi-char merge chains
    * appear well before it on this corpus, so the leftmost-rule and
    * merge-order semantics are genuinely exercised) while keeping the
    * oracle's unrolled per-iteration CTE chain — one vocab pair-count
    * + argmax + rewrite per merge, the k-means-oracle discipline —
    * readable; production merge counts swap in the vocab-join encode
    * (see BpeTrain.bpeEncode scaladoc).
    */
  private[graft] val BpeEncodeMerges = 12

  /** rank_mmr: MMR diversity re-rank geometry — top-20 exact-cosine
    * candidates for query vec 0, greedy-select 5 at the classic
    * λ=0.7 relevance / 0.3 redundancy split. γ is spelled as its own
    * constant (not 1−λ) so both engines compute with the same literal
    * double.
    */
  private[graft] val MmrN = 20
  private[graft] val MmrK = 5
  private[graft] val MmrLambda = 0.7
  private[graft] val MmrGamma = 0.3

  /** rank_ndcg_eval / rank_mrr_eval: NDCG@10, MRR and P@10 over the
    * exact-cosine arm for query vecs 0/1/2, binary relevance = label
    * agreement. */
  private[graft] val NdcgK = 10

  /** curation_sample_priority: per-language budget for the
    * Duffield–Lund–Thorup priority sample (weight = n_chars). */
  private[graft] val PrioK = 10

  /** text_ngram_novelty: word-3-gram first-occurrence novelty — the
    * same shingle width as the Jaccard/containment oracles, ONE gram
    * universe across the family. */
  private[graft] val NoveltyK = 3

  /** ann_matryoshka_refine truncation width: the 16 leading of 64
    * dims — the 4× compute/byte saving the MRL two-stage claim is
    * about (on these i.i.d. synthetic embeddings the prefix carries
    * no privileged semantics, so stage-1 ranking quality is the
    * random-projection baseline; the LEG pins the two-stage plan and
    * arithmetic, the recall claim belongs to MRL-trained models).
    */
  private val MrlDims = 16

  /** rank_rrf_hybrid fusion constants: the published RRF k=60 and a
    * 50-deep candidate list per arm (2.5× the final top-20 so the
    * union genuinely reorders — docs one arm missed still compete).
    */
  private val RrfK = 60
  private val RrfDepth = 50

  /** rank_rrf_batch query set: three (qid, terms) lexical queries —
    * qids align with the embedding-arm query vectors (vec_id 0/1/2,
    * the standard ANN query batch) and the terms are drawn from the
    * synthetic corpus's working vocabulary so every arm retrieves a
    * real list. qid 0 reuses Bm25Terms, so the single-query and batch
    * forms stay comparable on that slice.
    */
  private val RrfBatchTerms: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "join", "window"),
    1L -> Seq("stream", "batch", "merge"),
    2L -> Seq("vector", "hash", "scan"))
  // the ANN-armed RRF oracles reuse ivfPqOracleFor, whose qv CTE is
  // pinned to the repo-wide ANN query batch `vec_id IN (0, 1, 2)` —
  // a fourth lexical query would silently rank against a 3-query
  // semantic chain and fail with an opaque hash mismatch, so the
  // coupling is asserted here instead
  require(RrfBatchTerms.map(_._1) == Seq(0L, 1L, 2L),
    "RrfBatchTerms qids must stay the ANN query batch (0, 1, 2) — " +
      "ivfPqOracleFor's qv CTE and the gated query batches are pinned to it")

  /** curation_dsir_weights hashed-feature bucket count: divides 65536
    * so the 4-hex-digit md5 derivation is exactly uniform, and small
    * enough that the log-ratio model broadcast is trivial at any
    * corpus size.
    */
  private val DsirBuckets = 4096

  /** The streaming embedding-cosine gate's "new" fraction in basis
    * points — 50%, not the text family's 10%: the i.i.d. gate
    * embeddings produce only ~2 cosine pairs at sf0.01 and neither
    * touches a 10% bucket, so a 10% split would gate an empty result.
    */
  private val StreamEmbNewBp = 5000

  /** The store's log for the gated streaming-ingest legs, bounded to a
    * third of its backlog per trigger: THREE micro-batches on any file
    * layout — the minimum that still exercises everything the gate is
    * for (cross-batch pair discovery through a genuinely growing index,
    * one mid-stream compaction, a post-compaction probe against the new
    * generation) without paying per-batch fixed cost eight times over.
    * Correctness is batch-division-invariant by construction
    * (StreamingDedupSpec pins it across splits), so the batch count is
    * a COST knob, not a semantics knob: at eight batches the four
    * pruned legs alone cost ~107 s of base scaffold, which is what
    * starved BENCH_r13's scale budget into skipping 24 legs.
    */
  private[graft] def ingestFeed(es: graft.api.EventStore): DataFrame = {
    val backlog = graft.streaming.GraftEventSource.backlog(es)
    graft.streaming.GraftEventSource.log(es, Some(math.max(1L, (backlog + 2) / 3)))
  }

  /** In-stream index-compaction cadence for the same legs: every 2nd
    * micro-batch (was every 3rd at the old 8-batch granularity), so a
    * 3-batch catch-up still runs compact-then-probe across a
    * generation flip exactly once.
    */
  private val StreamCompactEvery = 2

  /** Random-projection output dims (JL cut 64 → 16). */
  private val RpOutDims = 16

  /** Power-iteration rounds for the PCA component (fixed — part of the
    * deterministic cross-engine contract). */
  private val PcaIters = 3

  /** Shared LM-scoring CTE chain ending in
    * `all_scored(doc_id, n_bigrams, avg_logp)` — the SQL mirror of
    * LanguageModel.bigramLogProb(k = 0.5) over `documents`, reused by
    * the logprob and perplexity-bucket oracles.
    */
  private def lmScoredCte: String =
    s"""d AS (SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ts
      |  FROM documents),
      |toks AS (SELECT ts[i] AS w1
      |  FROM d, generate_series(1, $OracleTokenBound) g(i) WHERE i <= len(ts)),
      |uni AS (SELECT w1, count(*) AS c1 FROM toks GROUP BY w1),
      |v AS (SELECT CAST(count(*) AS DOUBLE) AS v_size FROM uni),
      |bi AS (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
      |  FROM d, generate_series(1, $OracleTokenBound) g(i) WHERE i <= len(ts) - 1),
      |bic AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY w1, w2),
      |scored AS (
      |  SELECT b.doc_id, count(*) AS n_bigrams,
      |    round(avg(ln((bc.cb + 0.5) / (u.c1 + 0.5 * v.v_size))), 4)
      |      AS avg_logp
      |  FROM bi b JOIN bic bc USING (w1, w2) JOIN uni u USING (w1), v
      |  GROUP BY b.doc_id),
      |all_scored AS (
      |  SELECT d2.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, s.avg_logp
      |  FROM documents d2 LEFT JOIN scored s USING (doc_id))""".stripMargin

  private def lmLogProbOracle: String =
    s"""WITH $lmScoredCte
       |SELECT doc_id, n_bigrams, avg_logp FROM all_scored
       |ORDER BY doc_id""".stripMargin

  /** text_ppl_buckets: tertile thresholds as DISCRETE order statistics
    * (ascending ranks floor(n/3)+1 and floor(2n/3)+1) over the same
    * deterministic sample the Spark side collects — md5 bucket
    * < 2000 bp (seed "ppl"), ordered-prefix limit 10000 — then a pure
    * CASE compare. No interpolation, so thresholds are bit-identical
    * 4-dp values.
    */
  /** Threshold chain `samp/rnk/th` from `all_scored` (collision-free
    * for the ensemble), plus the bucket CASE both consumers share. */
  private def pplThresholdCte: String = {
    val bucket = s"(${sqlHexBucket("md5('ppl:' || doc_id)")} % 10000)"
    s"""samp AS (
       |  SELECT doc_id, avg_logp FROM all_scored
       |  WHERE avg_logp IS NOT NULL AND $bucket < 2000
       |  ORDER BY doc_id LIMIT 10000),
       |rnk AS (SELECT avg_logp, row_number() OVER (ORDER BY avg_logp) AS rn,
       |    count(*) OVER () AS n FROM samp),
       |th AS (SELECT
       |    max(CASE WHEN rn = CAST(floor(n / 3.0) AS BIGINT) + 1
       |      THEN avg_logp END) AS t1,
       |    max(CASE WHEN rn = CAST(floor(2.0 * n / 3.0) AS BIGINT) + 1
       |      THEN avg_logp END) AS t2
       |  FROM rnk)""".stripMargin
  }

  private def pplBucketCase(scoreExpr: String): String =
    s"""CASE WHEN $scoreExpr IS NULL THEN 'unscored'
       |       WHEN $scoreExpr >= th.t2 THEN 'head'
       |       WHEN $scoreExpr >= th.t1 THEN 'middle'
       |       ELSE 'tail' END""".stripMargin

  private def pplBucketsOracle: String =
    s"""WITH $lmScoredCte,
       |$pplThresholdCte
       |SELECT a.doc_id, a.n_bigrams, a.avg_logp,
       |  ${pplBucketCase("a.avg_logp")} AS bucket
       |FROM all_scored a, th ORDER BY a.doc_id""".stripMargin

  /** text_entropy: chars via per-position substr (split-on-empty is
    * engine-ambiguous), alphabet list_sort'ed so the float fold order
    * matches Spark's array_sort'ed aggregate; `+ 0.0` canonicalizes
    * -0.0 on both sides.
    */
  private def entropyOracle: String =
    """WITH c AS (SELECT doc_id, text, length(text) AS len,
      |    list_transform(generate_series(1, length(text)),
      |      i -> substr(text, CAST(i AS BIGINT), 1)) AS chars
      |  FROM documents),
      |a AS (SELECT doc_id, len, list_sort(list_distinct(chars)) AS alpha, chars
      |  FROM c),
      |e AS (SELECT doc_id, CAST(len AS BIGINT) AS len,
      |    CAST(len(alpha) AS BIGINT) AS n_alpha,
      |    CASE WHEN len = 0 THEN 0.0 ELSE
      |      round(-list_sum(list_transform(alpha,
      |        d -> (CAST(len(list_filter(chars, ch -> ch = d)) AS DOUBLE)
      |              / len) *
      |             ln(CAST(len(list_filter(chars, ch -> ch = d)) AS DOUBLE)
      |              / len))), 4) + 0.0
      |    END AS entropy
      |  FROM a)
      |SELECT doc_id, len, n_alpha, entropy FROM e ORDER BY doc_id""".stripMargin

  /** text_inverted_index: window-rank mirror of the bounded-heap
    * posting build (rank = row_number over ascending doc id). */
  private def invertedIndexOracle: String =
    s"""WITH d AS (SELECT doc_id,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS ts
       |  FROM documents),
       |toks AS (SELECT doc_id, ts[i] AS term
       |  FROM d, generate_series(1, $OracleTokenBound) g(i) WHERE i <= len(ts)),
       |tf AS (SELECT term, doc_id, count(*) AS tf
       |  FROM toks GROUP BY term, doc_id),
       |st AS (SELECT term, count(*) AS df_t,
       |    CAST(sum(tf) AS BIGINT) AS cf
       |  FROM tf GROUP BY term),
       |r AS (SELECT term, doc_id, tf,
       |    row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rk
       |  FROM tf)
       |SELECT r.term, st.df_t, st.cf, r.rk, r.doc_id AS id, r.tf
       |FROM r JOIN st USING (term) WHERE r.rk <= 4
       |ORDER BY term, rk""".stripMargin

  /** Shared Naive-Bayes chain (k = 1, label lang = 'en') ending in
    * `clf(doc_id, n_tokens, log_odds, pred_pos)` — collision-free
    * CTE names (cd/ctoks/…) so it composes with the LM and quality
    * chains in the ensemble oracle.
    */
  private def classifierCte: String =
    s"""cd AS (SELECT doc_id, (lang = 'en') AS pos,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ts
      |  FROM documents),
      |ctoks AS (SELECT doc_id, pos, ts[i] AS w
      |  FROM cd, generate_series(1, $OracleTokenBound) cg(i) WHERE i <= len(ts)),
      |cw AS (SELECT w,
      |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
      |    sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cneg
      |  FROM ctoks GROUP BY w),
      |tot AS (SELECT CAST(sum(cpos) AS DOUBLE) AS tpos,
      |    CAST(sum(cneg) AS DOUBLE) AS tneg,
      |    CAST(count(*) AS DOUBLE) AS v_size FROM cw),
      |cpr AS (SELECT
      |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE) AS npos,
      |    CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS DOUBLE) AS nneg
      |  FROM cd),
      |wt AS (SELECT w,
      |    ln((cpos + 1.0) / (tpos + 1.0 * v_size)) -
      |    ln((cneg + 1.0) / (tneg + 1.0 * v_size)) AS weight
      |  FROM cw, tot),
      |cds AS (SELECT t.doc_id, count(*) AS n_tokens, sum(wt.weight) AS w_sum
      |  FROM ctoks t JOIN wt USING (w) GROUP BY t.doc_id),
      |clf AS (SELECT d2.doc_id,
      |    CAST(coalesce(cds.n_tokens, 0) AS BIGINT) AS n_tokens,
      |    round(ln(cpr.npos / cpr.nneg) + coalesce(cds.w_sum, 0.0), 4)
      |      AS log_odds,
      |    (round(ln(cpr.npos / cpr.nneg) + coalesce(cds.w_sum, 0.0), 4) > 0.0)
      |      AS pred_pos
      |  FROM documents d2 LEFT JOIN cds USING (doc_id), cpr)""".stripMargin

  /** text_classifier: the Naive-Bayes log-odds mirror; prediction
    * derives from the ROUNDED score on both sides.
    */
  private def classifierOracle: String =
    s"""WITH $classifierCte
       |SELECT doc_id, n_tokens, log_odds, pred_pos FROM clf
       |ORDER BY doc_id""".stripMargin

  /** embedding_random_projection: the oracle re-derives the seeded ±1
    * sign matrix from md5 (hex digit ≥ '8' ⇔ top bit set — ASCII
    * compare works for lowercase hex) and recomputes every projected
    * coordinate.
    */
  private def randomProjectionOracle: String =
    s"""WITH s AS (
       |  SELECT j.j, i.i,
       |    CASE WHEN substr(md5('rp:' || j.j || ':' || i.i), 1, 1) >= '8'
       |      THEN 1.0 ELSE -1.0 END AS sgn
       |  FROM (SELECT unnest(generate_series(0, ${RpOutDims - 1})) AS j) j,
       |       (SELECT unnest(generate_series(0, 63)) AS i) i),
       |p AS (
       |  SELECT e.vec_id, CAST(s.j AS BIGINT) AS j,
       |    round(sum(CAST(e.embedding[s.i + 1] AS DOUBLE) * s.sgn) /
       |      sqrt(${RpOutDims}.0), 4) AS proj
       |  FROM embeddings e, s
       |  GROUP BY e.vec_id, s.j)
       |SELECT vec_id, j, proj FROM p ORDER BY vec_id, j""".stripMargin

  /** Stratified-sample keep rates (basis points of 10000) by language;
    * es exercises the default path. Integer basis points — not double
    * rates — so the keep threshold is bit-identical across engines.
    */
  private val StratRatesBp = Map("en" -> 2500, "zh" -> 5000, "de" -> 10000, "fr" -> 7500)
  private val StratDefaultBp = 1000

  /** Weighted-sample length-proxy score: 25 bp per character, capped
    * at 10000 (docs >= 400 chars always kept; the corpus runs 48-553).
    */
  private val WeightedBpPerChar = 25

  /** Sequence-packing token budget and lane count (docs are ~56 tokens
    * median, so ~4 docs/pack; 8 lanes ≈ 62 docs/lane at sf0.01).
    */
  private val PackBudget = 256L
  private val PackLanes = 8

  /** BM25 query terms, shared by the Spark query, its oracle and the
    * bench's `bm25_serve` diagnostic.
    */
  private[graft] val Bm25Terms = Seq("spark", "join", "window")
  private[graft] val Bm25K1 = 1.2
  private[graft] val Bm25B = 0.75
  private[graft] val Bm25TopK = 20

  /** Pairs→clusters oracle: the minhash-LSH pair chain (threshold 0.5)
    * feeding a recursive-CTE label propagation — min reachable id per
    * node IS the component id, computed by a completely different
    * algorithm than the Spark side's alternating-star contraction.
    */
  /** Shared CTE chain from a shingle CTE `sh(id, sh)` to the
    * connected-components `walk(node, lbl)` over MinHash-LSH near-dup
    * edges at jaccard >= `threshold` — the SQL mirror of
    * Dedup.minhashLsh + connectedComponents, reused by both the plain
    * clusters oracle (shingles over documents) and the pipeline oracle
    * (shingles over exact-dedup representatives).
    */
  private def lshWalkCtes(threshold: String = "0.5"): String = {
    s"""$minhashSigBandsCtes,
       |cand AS (
       |  SELECT DISTINCT x.id AS a, y.id AS b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id),
       |inter AS (
       |  SELECT c.a, c.b, count(*) AS ni
       |  FROM cand c
       |  JOIN sh sa ON sa.id = c.a
       |  JOIN sh sb ON sb.id = c.b AND sa.sh = sb.sh
       |  GROUP BY c.a, c.b),
       |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
       |edges AS (
       |  SELECT i.a AS u, i.b AS v FROM inter i
       |  JOIN sizes na ON na.id = i.a
       |  JOIN sizes nb ON nb.id = i.b
       |  WHERE round(CAST(ni AS DOUBLE) / (na.n + nb.n - ni), 6) >= $threshold),
       |bidir AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
       |walk(node, lbl) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM bidir) t
       |  UNION
       |  SELECT b.u, w.lbl FROM bidir b JOIN walk w ON w.node = b.v)""".stripMargin
  }

  private def dedupClustersOracle: String =
    s"""WITH RECURSIVE $shinglesCte,
       |${lshWalkCtes()}
       |SELECT node AS doc_id, min(lbl) AS cluster, (node = min(lbl)) AS keeper
       |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin

  /** Mirror of Dedup.dedupPipeline: exact md5 groups → min-id
    * representatives → LSH + components over representatives only →
    * every document mapped to its merged cluster.
    */
  private def dedupPipelineOracle: String =
    s"""WITH RECURSIVE
       |ex AS (SELECT doc_id, md5(text) AS fp FROM documents),
       |kp AS (SELECT fp, min(doc_id) AS rep FROM ex GROUP BY fp),
       |dk AS (SELECT e.doc_id, k.rep FROM ex e JOIN kp k ON k.fp = e.fp),
       |reps AS (SELECT d.doc_id, d.text FROM documents d
       |  JOIN kp k ON k.rep = d.doc_id),
       |${shinglesCteFor(3, "reps", "sh")},
       |${lshWalkCtes()},
       |rc AS (
       |  SELECT k.rep, coalesce(w.cl, k.rep) AS cluster
       |  FROM (SELECT DISTINCT rep FROM kp) k
       |  LEFT JOIN (SELECT node, min(lbl) AS cl FROM walk GROUP BY node) w
       |    ON w.node = k.rep)
       |SELECT dk.doc_id, rc.cluster, (dk.doc_id = rc.cluster) AS keeper
       |FROM dk JOIN rc ON rc.rep = dk.rep
       |ORDER BY doc_id""".stripMargin

  private def stratSampleOracle: String = {
    val bucket = s"(${sqlHexBucket("md5('sample:' || doc_id)")} % 10000)"
    val arms = StratRatesBp.toSeq.sortBy(_._1)
      .map { case (k, bp) => s"WHEN lang = '$k' THEN $bp" }.mkString(" ")
    s"""SELECT doc_id, lang, CAST($bucket AS BIGINT) AS bucket
       |FROM documents
       |WHERE $bucket < CASE $arms ELSE $StratDefaultBp END
       |ORDER BY doc_id""".stripMargin
  }

  private def weightedSampleOracle: String = {
    val bucket = s"(${sqlHexBucket("md5('wsample:' || doc_id)")} % 10000)"
    val score = s"greatest(0, least(10000, n_chars * $WeightedBpPerChar))"
    s"""SELECT doc_id, CAST($score AS BIGINT) AS score_bp,
       |  CAST($bucket AS BIGINT) AS bucket
       |FROM documents
       |WHERE $bucket < $score
       |ORDER BY doc_id""".stripMargin
  }

  private def packSequencesOracle: String = {
    val lane = s"((${sqlHexBucket("md5('pack:' || doc_id)")} % 10000) % $PackLanes)"
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, CAST($lane AS INTEGER) AS lane,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
       |  FROM documents),
       |ord AS (
       |  SELECT doc_id, lane, tokens,
       |    row_number() OVER (PARTITION BY lane ORDER BY doc_id) AS rn
       |  FROM toks),
       |packed(lane, rn, doc_id, tokens, pack, used) AS (
       |  SELECT lane, rn, doc_id, tokens, CAST(0 AS BIGINT), tokens
       |  FROM ord WHERE rn = 1
       |  UNION ALL
       |  SELECT o.lane, o.rn, o.doc_id, o.tokens,
       |    CASE WHEN p.used + o.tokens > $PackBudget THEN p.pack + 1 ELSE p.pack END,
       |    CASE WHEN p.used + o.tokens > $PackBudget THEN o.tokens ELSE p.used + o.tokens END
       |  FROM ord o JOIN packed p ON o.lane = p.lane AND o.rn = p.rn + 1)
       |SELECT doc_id, lane, tokens, pack FROM packed ORDER BY doc_id""".stripMargin
  }

  private def ngramJaccardOracle: String =
    s"""WITH $shinglesCte,
       |shf AS (
       |  SELECT id, sh FROM sh WHERE sh IN (
       |    SELECT sh FROM sh GROUP BY sh HAVING count(*) <= $NgramMaxDf)),
       |inter AS (
       |  SELECT sa.id AS a, sb.id AS b, count(*) AS ni
       |  FROM shf sa JOIN shf sb ON sa.sh = sb.sh AND sa.id < sb.id
       |  GROUP BY sa.id, sb.id),
       |sizes AS (SELECT id, count(*) AS n FROM shf GROUP BY id)
       |SELECT i.a, i.b,
       |  round(CAST(ni AS DOUBLE) / (na.n + nb.n - ni), 6) AS jaccard
       |FROM inter i
       |JOIN sizes na ON na.id = i.a
       |JOIN sizes nb ON nb.id = i.b
       |WHERE CAST(ni AS DOUBLE) / (na.n + nb.n - ni) >= 0.8
       |ORDER BY i.a, i.b""".stripMargin

  /** dedup_containment: same capped-shingle universe as the Jaccard
    * oracle, |A∩B| / min(|A|,|B|) at 0.5. */
  private def containmentOracle: String =
    s"""WITH $shinglesCte,
       |shf AS (
       |  SELECT id, sh FROM sh WHERE sh IN (
       |    SELECT sh FROM sh GROUP BY sh HAVING count(*) <= $NgramMaxDf)),
       |inter AS (
       |  SELECT sa.id AS a, sb.id AS b, count(*) AS ni
       |  FROM shf sa JOIN shf sb ON sa.sh = sb.sh AND sa.id < sb.id
       |  GROUP BY sa.id, sb.id),
       |sizes AS (SELECT id, count(*) AS n FROM shf GROUP BY id)
       |SELECT i.a, i.b,
       |  round(CAST(ni AS DOUBLE) / least(na.n, nb.n), 6) AS containment
       |FROM inter i
       |JOIN sizes na ON na.id = i.a
       |JOIN sizes nb ON nb.id = i.b
       |WHERE round(CAST(ni AS DOUBLE) / least(na.n, nb.n), 6) >= 0.5
       |ORDER BY i.a, i.b""".stripMargin

  /** Shared CTE chain ending in `p(i, j, cov)` — the n·dims²
    * explode-join covariance cross-check of the O(dims²)-buffer typed
    * Aggregator, reused by the covariance and PCA oracles. The `+ 0`
    * on `cov` normalizes IEEE negative zero (DuckDB's round keeps the
    * sign of a tiny negative; Spark's BigDecimal rounding cannot
    * produce -0.0, and the driver's compare hashes bit patterns). */
  private def covarianceCte: String =
    """x AS (
      |  SELECT vec_id, i.i AS i, CAST(embedding[i.i + 1] AS DOUBLE) AS v
      |  FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS i) i),
      |p AS (
      |  SELECT a.i AS i, b.i AS j,
      |    round(sum(a.v * b.v) / count(*) -
      |      (sum(a.v) / count(*)) * (sum(b.v) / count(*)), 6) + 0 AS cov
      |  FROM x a JOIN x b ON a.vec_id = b.vec_id
      |  GROUP BY a.i, b.i)""".stripMargin

  private def covarianceOracle: String =
    s"""WITH $covarianceCte
       |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, cov
       |FROM p ORDER BY i, j""".stripMargin

  /** embedding_pca_project: the unrolled power iteration (PcaIters
    * rounds, v₀ = round6(1/√dims), each iterate 6-dp-rounded after
    * normalization) from the oracle's own covariance CTE, then the
    * projection. Mirrors Moments.topComponent exactly.
    */
  private def pcaOracle: String = {
    val iters = (1 to PcaIters).map { t =>
      val prev = s"v${t - 1}"
      s"""u$t AS (SELECT p.i AS i, sum(p.cov * $prev.v) AS u
         |  FROM p JOIN $prev ON $prev.i = p.j GROUP BY p.i),
         |v$t AS (SELECT i,
         |  round(u / (SELECT sqrt(sum(u * u)) FROM u$t), 6) AS v
         |  FROM u$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH $covarianceCte,
       |v0 AS (SELECT unnest(generate_series(0, 63)) AS i,
       |  round(1.0 / sqrt(64.0), 6) AS v),
       |$iters
       |SELECT e.vec_id,
       |  round(sum(CAST(e.embedding[w.i + 1] AS DOUBLE) * w.v), 6) AS pc1
       |FROM embeddings e, v$PcaIters w
       |GROUP BY e.vec_id ORDER BY vec_id""".stripMargin
  }

  /** profile_documents: one UNION ALL branch per profiled column;
    * min/max cast to VARCHAR (binary collation both engines). */
  private def profileOracle: String = {
    val branches = Seq("doc_id", "text", "lang", "source", "n_chars")
      .map(c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value
           |FROM documents""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""$branches
       |ORDER BY "column"""".stripMargin
  }

  /** profile_documents_approx: exact recount + the sketch-tolerance
    * flag pinned TRUE (Sketches discipline — an out-of-tolerance HLL
    * on the Spark side flips the flag and hash-mismatches). */
  private def profileApproxOracle: String = {
    val branches = Seq("doc_id", "text", "lang", "source", "n_chars")
      .map(c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  TRUE AS approx_ok
           |FROM documents""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""$branches
       |ORDER BY "column"""".stripMargin
  }

  /** text_top_ngrams: frequency-weighted corpus bigrams (the
    * non-distinct mirror of the shingle CTE). */
  private def topNgramsOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |g AS (SELECT t[i] || ' ' || t[i+1] AS gram
      |  FROM t, generate_series(1, 65536) s(i) WHERE i <= len(t) - 1)
      |SELECT gram, count(*) AS n FROM g GROUP BY gram
      |ORDER BY n DESC, gram LIMIT 20""".stripMargin

  /** text_tfidf_terms: window-rank mirror of the TopKPerKey TF-IDF
    * keyword extraction (smoothless idf = ln(N/df); both sides rank on
    * the 6-dp-rounded score, ties to the term). */
  private def tfidfOracle: String =
    s"""WITH d AS (SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ts
      |  FROM documents),
      |toks AS (SELECT doc_id, ts[i] AS term
      |  FROM d, generate_series(1, $OracleTokenBound) g(i) WHERE i <= len(ts)),
      |tf AS (SELECT doc_id, term, count(*) AS tf
      |  FROM toks GROUP BY doc_id, term),
      |dfq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      |sc AS (SELECT tf.doc_id, tf.term,
      |    round(CAST(tf.tf AS DOUBLE) * ln(nn.n_docs / df_t), 6) AS tfidf
      |  FROM tf JOIN dfq USING (term), nn),
      |r AS (SELECT doc_id, term, tfidf,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY tfidf DESC, term) AS rk
      |  FROM sc)
      |SELECT doc_id, term, tfidf, CAST(rk AS BIGINT) AS rk FROM r
      |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** curation_sample_topk: window-rank mirror of the TopKPerKey
    * consistent sample (k smallest md5 per language). */
  private def sampleTopkOracle: String =
    """WITH h AS (SELECT doc_id, lang,
      |    md5('csample:' || doc_id) AS h FROM documents),
      |r AS (SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
      |  FROM h)
      |SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM r
      |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin

  /** Shared CTE chain: 6-plane hyperplane-LSH buckets per vector
    * (mirrors Similarity.lshBucket exactly).
    */
  private val lshBucketsCte: String = {
    val hexHigh = "('8','9','a','b','c','d','e','f')"
    s"""w AS (
       |  SELECT p, i,
       |    CASE WHEN substr(md5(p || ':' || i), 1, 1) IN $hexHigh
       |      THEN 1.0 ELSE -1.0 END AS wt
       |  FROM generate_series(0, 5) pp(p), generate_series(1, 64) ii(i)),
       |flat AS (
       |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings, generate_series(1, 64) t(i)),
       |proj AS (
       |  SELECT vec_id, p, sum(v * wt) AS s
       |  FROM flat JOIN w USING (i) GROUP BY vec_id, p),
       |buckets AS (
       |  SELECT vec_id, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END,
       |    '' ORDER BY p) AS bucket
       |  FROM proj GROUP BY vec_id)""".stripMargin
  }

  /** Banded multi-table LSH constants shared by the Spark query and
    * its oracle (Similarity.cosineNearDupPairs mirror).
    */
  private val NearDupPlanes = 16
  private val NearDupTables = 3
  private val NearDupMaxBucket = 1000

  /** Cosine-pair gate threshold. Production would use ~0.95, but the
    * synthetic embeddings are i.i.d. (max pairwise cosine ~0.48, and
    * only ~15 pairs survive the 16-plane × 3-table bucketing at
    * sf0.01), so 0.95 made the oracle compare empty-vs-empty; 0.35
    * keeps a non-empty pair list flowing through BOTH engines' cosine
    * filters.
    */
  private val NearDupThreshold = 0.35

  /** Per-table hyperplane buckets CTE chain ending in
    * `allbuckets(vec_id, tbl, bucket)` — mirrors Similarity.lshBucket
    * seeds exactly (table 0: "p:i", table t: "tT:p:i").
    */
  private def lshBucketsMultiCte(planes: Int, tables: Int): String = {
    val hexHigh = "('8','9','a','b','c','d','e','f')"
    val per = (0 until tables).map { t =>
      val seed = if (t == 0) "p || ':' || i" else s"'t$t:' || p || ':' || i"
      s"""w$t AS (
         |  SELECT p, i,
         |    CASE WHEN substr(md5($seed), 1, 1) IN $hexHigh
         |      THEN 1.0 ELSE -1.0 END AS wt
         |  FROM generate_series(0, ${planes - 1}) pp(p), generate_series(1, 64) ii(i)),
         |proj$t AS (
         |  SELECT vec_id, p, sum(v * wt) AS s
         |  FROM flat JOIN w$t USING (i) GROUP BY vec_id, p),
         |buckets$t AS (
         |  SELECT vec_id, $t AS tbl, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END,
         |    '' ORDER BY p) AS bucket
         |  FROM proj$t GROUP BY vec_id)""".stripMargin
    }.mkString(",\n")
    val union = (0 until tables).map(t => s"SELECT * FROM buckets$t")
      .mkString(" UNION ALL ")
    s"""flat AS (
       |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings, generate_series(1, 64) t(i)),
       |$per,
       |allbuckets AS ($union)""".stripMargin
  }

  private def embeddingNearDupOracle: String =
    s"""WITH ${lshBucketsMultiCte(NearDupPlanes, NearDupTables)},
       |okb AS (
       |  SELECT ab.vec_id, ab.tbl, ab.bucket FROM allbuckets ab
       |  JOIN (SELECT tbl, bucket FROM allbuckets
       |        GROUP BY tbl, bucket HAVING count(*) <= $NearDupMaxBucket) ok
       |    ON ab.tbl = ok.tbl AND ab.bucket = ok.bucket),
       |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |pairs AS (
       |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM okb x JOIN okb y
       |    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |scored AS (
       |  SELECT p.a, p.b, ${cosSql("ca.ve", "cb.ve")} AS cosine
       |  FROM pairs p
       |  JOIN corp ca ON ca.vec_id = p.a
       |  JOIN corp cb ON cb.vec_id = p.b)
       |SELECT a, b, cosine FROM scored WHERE cosine >= $NearDupThreshold
       |ORDER BY a, b""".stripMargin

  /** stream_dedup_embedding: the UNPRUNED multi-table bucket recount
    * (no maxBucket CTE — the streaming probe carries no size cut, see
    * the query comment) restricted to pairs touching a new vec under
    * the 50% StreamEmbNewBp split.
    */
  private def embeddingNearDupIncrementalOracle: String = {
    val bucket =
      s"(${sqlHexBucket(s"md5('$IncrementalSeed:' || vec_id)")} % 10000)"
    s"""WITH ${lshBucketsMultiCte(NearDupPlanes, NearDupTables)},
       |newids AS (SELECT vec_id FROM embeddings WHERE $bucket < $StreamEmbNewBp),
       |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |pairs AS (
       |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM allbuckets x JOIN allbuckets y
       |    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
       |  WHERE x.vec_id IN (SELECT vec_id FROM newids)
       |     OR y.vec_id IN (SELECT vec_id FROM newids)),
       |scored AS (
       |  SELECT p.a, p.b, ${cosSql("ca.ve", "cb.ve")} AS cosine
       |  FROM pairs p
       |  JOIN corp ca ON ca.vec_id = p.a
       |  JOIN corp cb ON cb.vec_id = p.b)
       |SELECT a, b, cosine FROM scored WHERE cosine >= $NearDupThreshold
       |ORDER BY a, b""".stripMargin
  }

  private def annLshOracle: String = {
    s"""WITH $lshBucketsCte,
       |q AS (
       |  SELECT e.vec_id AS qid, CAST(e.embedding AS DOUBLE[]) AS qe,
       |    b.bucket AS qbucket
       |  FROM embeddings e JOIN buckets b ON b.vec_id = e.vec_id
       |  WHERE e.vec_id IN (0, 1, 2)),
       |scored AS (
       |  SELECT q.qid, e.vec_id,
       |    round(list_dot_product(qe, CAST(e.embedding AS DOUBLE[])) /
       |      (sqrt(list_dot_product(qe, qe)) *
       |       sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
       |                             CAST(e.embedding AS DOUBLE[])))), 6) AS cosine
       |  FROM embeddings e
       |  JOIN buckets b ON b.vec_id = e.vec_id
       |  JOIN q ON b.bucket = q.qbucket AND e.vec_id != q.qid),
       |ranked AS (
       |  SELECT qid, vec_id, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
       |  FROM scored)
       |SELECT qid, vec_id, cosine, rk FROM ranked WHERE rk <= 5
       |ORDER BY qid, rk""".stripMargin
  }

  /** stream→partition routing table for the watermark oracle, generated
    * from the same Ids hash the store uses (covers every user id that
    * can appear at any scale factor).
    */
  private def userPidValues: String =
    (0 until 2000).map { u =>
      s"($u, ${graft.core.Ids.partitionIdForStream(s"user-$u", StoreProvider.NumPartitions)})"
    }.mkString(", ")

  private def cosSql(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * " +
      s"sqrt(list_dot_product($b, $b))), 6)"

  /** IVF quantizer-training constants shared by the Spark query and
    * its oracle: Lloyd's iterations, coarse-list count, probe width,
    * and the ordered-prefix training-sample cap.
    */
  /** SemDeDup constants shared by the Spark query and its oracle:
    * per-cluster anchor cap and the near-dup cosine threshold.
    * Production would gate ~0.95, but the synthetic embeddings are
    * i.i.d. (max pairwise cosine ~0.48 — no planted semantic dups),
    * so the gate uses 0.40 to keep the verdict path EXERCISED: at
    * sf0.01 ~59 corpus pairs clear it, so both true and false
    * `is_dup` rows reach the oracle compare.
    */
  private[graft] val SemAnchors = 25
  private[graft] val SemThreshold = 0.40

  /** Per-document token cap the LM/classifier/tfidf oracles unroll
    * their token explode to (`generate_series(1, bound)`). This is a
    * CORPUS INVARIANT, not a semantic truncation: the Spark side is
    * unbounded, so a fixture document with more whitespace tokens than
    * this would silently truncate the ORACLE only and fail the gate
    * confusingly. OracleBoundsSpec asserts the gate corpus stays under
    * the bound (sf0.01 measures max ~120 tokens/doc — 34× headroom). */
  private[graft] val OracleTokenBound = 4096

  private[graft] val IvfLists = 10
  // nprobe 3 of 10 for plain IVF (full-vector re-rank: recall 0.93 at
  // sf0.1, up from 0.80 at nprobe 2)
  private[graft] val IvfProbes = 3

  // The COMPOSED IVF-PQ probes more lists than plain IVF: a true
  // neighbor must be probed AND survive the quantization-noisy ADC
  // ranking (multiplicative losses), and at the deliberately coarse
  // gated geometry (m=4, k=8 — SQL-oracle-unrollable) recall vs nprobe
  // is even slightly non-monotone from ADC rank displacement
  // (nprobe sweep at sf0.1: np2 .0371, np3 .0378, np4 .0371,
  // np5 .0392 = flat parity, np6 .0399 > flat). np5 is the smallest
  // value matching the flat-ADC canary; at production nlist (1000s)
  // the probed fraction shrinks accordingly.
  private[graft] val IvfPqProbes = 5
  private[graft] val IvfIters = 3
  private val IvfSample = 10000

  /** Mirror of Similarity.kmeansCentroids + ivfTopK: the k-means
    * training loop UNROLLED — iteration r assigns every sample vector
    * to its nearest c(r-1) centroid by 6-dp-rounded cosine (ties to the
    * smallest cid) and re-centers each cluster on the 6-dp-rounded
    * per-dimension mean (empty clusters keep the old centroid), then
    * the final centroids drive the same assignment/probe/top-k chain as
    * before. The double-sided roundings are what let two engines train
    * the identical quantizer.
    *
    * Known residual risk: the re-centering mean (`avg(f.v)` here,
    * sample-order summation in `kmeansCentroids`) has an unpinned
    * float accumulation order, so the two sums can differ in the last
    * ulp; round(…,6) absorbs that everywhere except when an unrounded
    * mean lands exactly on a 6-dp rounding boundary. Accepted: cluster
    * sizes are ≤ the bounded training sample, the dot products (the
    * numerically long chains) ARE order-pinned, and a boundary hit
    * would fail loudly as a hash mismatch rather than silently.
    */
  private def ivfOracle: String = ivfOracleFor("TRUE")

  /** ann_ivf with the hash-bucket training sample: the ONLY difference
    * is the samp predicate (same md5 arithmetic as Similarity's
    * `sampleMode = "hash"`), proving the oracle discipline survives
    * unbiased sampling — everything downstream of samp is shared.
    */
  private def ivfHashOracle: String = ivfOracleFor(
    s"(${sqlHexBucket(
        s"md5('${graft.ops.Similarity.HashSampleSeed}:' || vec_id)")} % 10000)" +
      s" < ${graft.ops.Similarity.HashSampleBuckets}")

  /** The k-means-training + full-corpus-assignment CTE prefix shared
    * by every oracle that mirrors the coarse quantizer (`ann_ivf`,
    * `ann_ivf_hash`, `dedup_semantic`): ends with
    * `assigned(vec_id, cid)` over `corp(vec_id, ve)`.
    */
  private def ivfTrainAssignCtes(sampPred: String,
      corpSrc: String =
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings",
      corpMat: Boolean = false): String = {
    val iterCtes = (1 to IvfIters).map { r =>
      val prev = s"c${r - 1}"
      s"""a$r AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT s.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id
         |        ORDER BY ${cosSql("s.ve", "c.ce")} DESC, c.cid) AS rn
         |    FROM samp s, $prev c) WHERE rn = 1),
         |m$r AS (
         |  SELECT a.cid, f.i, round(avg(f.v), 6) AS mv
         |  FROM a$r a JOIN flat f ON f.vec_id = a.vec_id
         |  GROUP BY a.cid, f.i),
         |c$r AS (
         |  SELECT p.cid, coalesce(n.ce, p.ce) AS ce
         |  FROM $prev p LEFT JOIN (
         |    SELECT cid, list(mv ORDER BY i) AS ce FROM m$r GROUP BY cid) n
         |    ON n.cid = p.cid)""".stripMargin
    }.mkString(",\n")
    val cf = s"c$IvfIters"
    val mat = if (corpMat) " MATERIALIZED" else ""
    s"""corp AS$mat ($corpSrc),
       |samp AS (SELECT vec_id, ve FROM corp WHERE $sampPred
       |  ORDER BY vec_id LIMIT $IvfSample),
       |flat AS (SELECT vec_id, i, ve[i] AS v
       |  FROM samp, generate_series(1, 64) t(i)),
       |c0 AS (SELECT vec_id AS cid, ve AS ce FROM samp ORDER BY vec_id LIMIT $IvfLists),
       |$iterCtes,
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT corp.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY corp.vec_id
       |        ORDER BY ${cosSql("ve", "ce")} DESC, c.cid) AS rn
       |    FROM corp, $cf c) WHERE rn = 1)""".stripMargin
  }

  private def ivfOracleFor(sampPred: String): String = {
    val cf = s"c$IvfIters"
    s"""WITH ${ivfTrainAssignCtes(sampPred)},
       |q AS (SELECT vec_id AS qid, ve AS qe FROM corp WHERE vec_id IN (0, 1, 2)),
       |probes AS (
       |  SELECT qid, cid, qe FROM (
       |    SELECT q.qid, c.cid, q.qe,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${cosSql("qe", "c.ce")} DESC, c.cid) AS rn
       |    FROM q, $cf c) WHERE rn <= $IvfProbes),
       |scored AS (
       |  SELECT p.qid, a.vec_id, ${cosSql("p.qe", "corp.ve")} AS cosine
       |  FROM probes p
       |  JOIN assigned a ON a.cid = p.cid AND a.vec_id != p.qid
       |  JOIN corp ON corp.vec_id = a.vec_id),
       |ranked AS (
       |  SELECT qid, vec_id, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
       |  FROM scored)
       |SELECT qid, vec_id, cosine, rk FROM ranked WHERE rk <= 5
       |ORDER BY qid, rk""".stripMargin
  }

  /** ann_ivf_sq8: the shared IVF train/assign CTE prefix (identical
    * to ann_ivf — same trained quantizer, same probe ranking) with the
    * ann_sq8_topk code chain swapped in for the raw-float scoring:
    * candidates come from the probed lists, distance is
    * full-precision-query vs int8-code cosine (the per-vector scale
    * cancels — the oracle scores the bare codes exactly like the
    * engine). CTE names prefixed s- to avoid the prefix's `flat`.
    */
  private def ivfSq8Oracle: String = ivfSq8OracleFor("TRUE")

  /** ann_ivfsq8_persistent: the same composed chain with the coarse
    * training sample restricted to the seed-time corpus — the frozen
    * centroids are the ONLY trained state an sq8 index carries (the
    * int8 quantizer is per-vector and stateless), so the persistent
    * oracle differs from the in-session one in exactly the samp
    * predicate, like the PQ persistent family.
    */
  private def ivfSq8PersistentOracle: String = ivfSq8OracleFor(
    s"(${sqlHexBucket(s"md5('$IncrementalSeed:' || vec_id)")} % 10000)" +
      s" >= $IncrementalNewBp")

  /** ann_ivfbq_persistent: the trained-IVF chain (seed-restricted
    * sample, like every persistent oracle), Hamming = sign-mismatch
    * count over the probed lists' candidates (definitionally
    * popcount-of-xor of the sign bits), the (hamming, vec_id) window
    * to BinRerank survivors, then the shared exact-refine CTEs.
    */
  private def ivfBqPersistentOracle: String = {
    val sampPred =
      s"(${sqlHexBucket(s"md5('$IncrementalSeed:' || vec_id)")} % 10000)" +
        s" >= $IncrementalNewBp"
    val cf = s"c$IvfIters"
    s"""WITH ${ivfTrainAssignCtes(sampPred)},
       |q AS (SELECT vec_id AS qid, ve AS qe FROM corp WHERE vec_id IN (0, 1, 2)),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${cosSql("qe", "c.ce")} DESC, c.cid) AS rn
       |    FROM q, $cf c) WHERE rn <= $IvfProbes),
       |hflat AS (SELECT vec_id, i, ve[i] AS v
       |  FROM corp, generate_series(1, $BinDims) t(i)),
       |qflat AS (SELECT vec_id AS qid, i, v AS qv FROM hflat
       |  WHERE vec_id IN (0, 1, 2)),
       |cand AS (
       |  SELECT p.qid, a.vec_id
       |  FROM probes p JOIN assigned a ON a.cid = p.cid
       |  WHERE a.vec_id != p.qid),
       |ham AS (
       |  SELECT c.qid, c.vec_id,
       |    sum(CASE WHEN (h.v > 0) <> (qf.qv > 0) THEN 1 ELSE 0 END)
       |      AS hamming
       |  FROM cand c
       |  JOIN hflat h ON h.vec_id = c.vec_id
       |  JOIN qflat qf ON qf.qid = c.qid AND qf.i = h.i
       |  GROUP BY c.qid, c.vec_id),
       |${bqSurvRefineSql("corp cv", "cv.vec_id", "cv.ve")}""".stripMargin
  }

  private def ivfSq8OracleFor(sampPred: String): String = {
    val cf = s"c$IvfIters"
    s"""WITH ${ivfTrainAssignCtes(sampPred)},
       |sflat AS (SELECT vec_id, i, ve[i] AS v
       |  FROM corp, generate_series(1, 64) t(i)),
       |smx AS (SELECT vec_id, max(abs(v)) AS abs_max
       |  FROM sflat GROUP BY vec_id),
       |cd AS (
       |  SELECT f.vec_id,
       |    list(CASE WHEN abs_max > 0
       |      THEN greatest(-127.0, least(127.0, floor(v / (abs_max / 127.0) + 0.5)))
       |      ELSE 0.0 END ORDER BY i) AS c
       |  FROM sflat f JOIN smx USING (vec_id) GROUP BY f.vec_id),
       |q AS (SELECT vec_id AS qid, ve AS qe FROM corp WHERE vec_id IN (0, 1, 2)),
       |probes AS (
       |  SELECT qid, cid, qe FROM (
       |    SELECT q.qid, c.cid, q.qe,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${cosSql("qe", "c.ce")} DESC, c.cid) AS rn
       |    FROM q, $cf c) WHERE rn <= $IvfProbes),
       |scored AS (
       |  SELECT p.qid, a.vec_id, ${cosSql("p.qe", "cd.c")} AS cosine
       |  FROM probes p
       |  JOIN assigned a ON a.cid = p.cid AND a.vec_id != p.qid
       |  JOIN cd ON cd.vec_id = a.vec_id),
       |ranked AS (
       |  SELECT qid, vec_id, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
       |  FROM scored)
       |SELECT qid, vec_id, cosine, rk FROM ranked WHERE rk <= 5
       |ORDER BY qid, rk""".stripMargin
  }

  /** dedup_semantic: the same trained quantizer + assignment as
    * ann_ivf (shared CTEs), then the anchor-bounded SemDeDup verdict —
    * duplicate iff an earlier same-cluster anchor (rank-by-id <=
    * SemAnchors) is >= SemThreshold rounded-cosine similar.
    */
  private def semanticDedupOracle: String =
    s"""WITH ${ivfTrainAssignCtes("TRUE")},
       |av AS (
       |  SELECT a.vec_id, a.cid, corp.ve FROM assigned a
       |  JOIN corp ON corp.vec_id = a.vec_id),
       |anchors AS (
       |  SELECT vec_id, cid, ve FROM (
       |    SELECT vec_id, cid, ve,
       |      row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS rn
       |    FROM av) WHERE rn <= $SemAnchors)
       |SELECT v.vec_id, v.cid,
       |  EXISTS (SELECT 1 FROM anchors e
       |    WHERE e.cid = v.cid AND e.vec_id < v.vec_id
       |      AND ${cosSql("v.ve", "e.ve")} >= $SemThreshold) AS is_dup
       |FROM av v ORDER BY v.vec_id""".stripMargin

  private def rollingHashOracle: String = {
    val powRows = graft.ops.TextAnalysis.powTable.zipWithIndex
      .map { case (p, i) => s"(${i + 1},${p}::BIGINT)" }.mkString(",")
    s"""WITH pows(i, p) AS (VALUES $powRows),
       |terms AS (
       |  SELECT doc_id, ascii(substr(text, i, 1)) * p AS t
       |  FROM documents JOIN pows ON i <= length(text))
       |SELECT doc_id,
       |  CAST(sum(t) % ${graft.ops.TextAnalysis.HashMod} AS BIGINT) AS rhash
       |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB lacks conv(): 4-hex-digit value via digit positions. */
  private def sqlHexBucket(expr: String): String = {
    def digit(i: Int) = s"(strpos('0123456789abcdef', substr($expr, $i, 1)) - 1)"
    s"(4096 * ${digit(1)} + 256 * ${digit(2)} + 16 * ${digit(3)} + ${digit(4)})"
  }

  /** 8-hex-digit (32-bit) mirror of [[sqlHexBucket]] — the oracle
    * half of Curation.hashUniform's exact dyadic uniform. */
  private def sqlHex8(expr: String): String = {
    def digit(i: Int) =
      s"(strpos('0123456789abcdef', substr($expr, $i, 1)) - 1)"
    val terms = (1 to 8).map { i =>
      val p = 1L << (4 * (8 - i))
      s"$p * ${digit(i)}"
    }
    s"(${terms.mkString(" + ")})"
  }

  /** curation_sample_priority: priority = greatest(w,1) / u with the
    * SAME exact dyadic uniform — one correctly-rounded division, so
    * the oracle needs no rounding tolerance. */
  private def prioritySampleOracle: String =
    s"""SELECT doc_id, lang, priority, rk FROM (
       |  SELECT doc_id, lang, priority,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY priority DESC, doc_id) AS rk
       |  FROM (
       |    SELECT doc_id, lang,
       |      greatest(CAST(n_chars AS DOUBLE), 1.0) /
       |        ((CAST(${sqlHex8("md5('psample:' || doc_id)")} AS DOUBLE)
       |          + 0.5) / 4294967296.0) AS priority
       |    FROM documents))
       |WHERE rk <= $PrioK ORDER BY lang, rk""".stripMargin

  /** rank_mrr_eval: the round-6 cosine ranking, first-relevant rank
    * and relevant count per query, two exact-integer divisions. */
  private def mrrEvalOracle: String =
    s"""WITH q AS (
       |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe,
       |    label AS qlabel
       |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
       |scored AS (
       |  SELECT q.qid, e.vec_id, e.label,
       |    ${cosSql("q.qe", "CAST(e.embedding AS DOUBLE[])")} AS cosine
       |  FROM embeddings e, q WHERE e.vec_id != q.qid),
       |ranked AS (
       |  SELECT qid, vec_id, label,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id)
       |      AS rk
       |  FROM scored),
       |gains AS (
       |  SELECT r.qid, r.rk,
       |    CASE WHEN r.label = q.qlabel THEN 1 ELSE 0 END AS g
       |  FROM ranked r JOIN q ON q.qid = r.qid WHERE r.rk <= $NdcgK),
       |agg AS (
       |  SELECT qid, min(CASE WHEN g = 1 THEN rk END) AS fr,
       |    CAST(sum(g) AS BIGINT) AS nrel
       |  FROM gains GROUP BY qid)
       |SELECT qid, CAST(coalesce(fr, 0) AS BIGINT) AS first_rel,
       |  coalesce(CAST(1 AS DOUBLE) / fr, 0.0) AS mrr,
       |  CAST(nrel AS DOUBLE) / CAST($NdcgK AS DOUBLE) AS p_at_k
       |FROM agg ORDER BY qid""".stripMargin

  private def hashSplitOracle: String = {
    val bucket = s"(${sqlHexBucket("md5('split:' || doc_id)")} % 10000)"
    s"""SELECT doc_id, CAST($bucket AS BIGINT) AS bucket,
       |  CASE WHEN $bucket < 9000 THEN 'train'
       |       WHEN $bucket < 9500 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Mirror of Dedup.chunkDedup at chunkChars=100, maxDf=1: same
    * fixed-stride chunking (bounded generate_series like the shingle
    * CTEs), duplicate set by chunk STRING where Spark groups by its
    * md5 (identical counts — 128-bit collisions are not a thing at
    * these corpus sizes), reassembly ordered by chunk position.
    */
  private def chunkDedupOracle: String =
    """WITH chunks AS (
      |  SELECT doc_id, i - 1 AS ord, substr(text, (i-1)*100 + 1, 100) AS chunk
      |  FROM documents, generate_series(1, 65536) g(i)
      |  WHERE (i-1)*100 < length(text)),
      |dup AS (SELECT chunk FROM chunks GROUP BY chunk HAVING count(*) > 1),
      |kept AS (SELECT c.doc_id, c.ord, c.chunk FROM chunks c
      |  WHERE c.chunk NOT IN (SELECT chunk FROM dup))
      |SELECT d.doc_id,
      |  coalesce(string_agg(k.chunk, '' ORDER BY k.ord), '') AS clean_text,
      |  CAST(ceil(length(d.text) / 100.0) AS BIGINT) AS n_chunks,
      |  CAST(ceil(length(d.text) / 100.0) AS BIGINT) - count(k.ord) AS n_dropped
      |FROM documents d LEFT JOIN kept k USING (doc_id)
      |GROUP BY d.doc_id, d.text ORDER BY doc_id""".stripMargin

  /** Mirror of Curation.temperatureMix at alpha=0.5: keep-rate
    * sqrt(min_count/count) in basis points (IEEE division + sqrt are
    * correctly rounded on both engines, so floor(×10000) agrees
    * bit-for-bit), bucket from the same md5('mix:'||id) machinery as
    * the hash split.
    */
  private def temperatureMixOracle: String = {
    val bucket = s"(${sqlHexBucket("md5('mix:' || doc_id)")} % 10000)"
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
       |m AS (SELECT min(n) AS mn FROM c),
       |r AS (SELECT lang,
       |    CAST(floor(sqrt(CAST(mn AS DOUBLE) / CAST(n AS DOUBLE)) * 10000)
       |      AS BIGINT) AS rate_bp
       |  FROM c, m)
       |SELECT d.doc_id, d.lang, CAST($bucket AS BIGINT) AS bucket, r.rate_bp,
       |  CAST($bucket AS BIGINT) < r.rate_bp AS keep
       |FROM documents d JOIN r USING (lang)
       |ORDER BY doc_id""".stripMargin
  }

  /** Mirror of Similarity.groupCentroidCosine over source groups:
    * element-wise centroid avg then pairwise cosine, rounded to 4 dp
    * (centroid sums are float aggregations whose addition order
    * differs per engine — low decimals are partition noise).
    */
  private def sourceCosineOracle: String =
    """WITH j AS (
      |  SELECT d.source AS grp, e.embedding AS emb
      |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
      |flat AS (
      |  SELECT grp, i, CAST(emb[i] AS DOUBLE) AS v
      |  FROM j, generate_series(1, 64) t(i)),
      |cent AS (SELECT grp, i, avg(v) AS v FROM flat GROUP BY grp, i)
      |SELECT a.grp AS src_a, b.grp AS src_b,
      |  round(sum(a.v * b.v) /
      |    (sqrt(sum(a.v * a.v)) * sqrt(sum(b.v * b.v))), 4) AS cosine
      |FROM cent a JOIN cent b ON a.i = b.i AND a.grp < b.grp
      |GROUP BY a.grp, b.grp ORDER BY src_a, src_b""".stripMargin

  private def decontaminateOracle: String =
    s"""WITH corpus_docs AS (SELECT * FROM documents WHERE doc_id >= 10),
       |bench_docs AS (SELECT * FROM documents WHERE doc_id < 10),
       |${shinglesCteFor(8, "corpus_docs", "csh")},
       |${shinglesCteFor(8, "bench_docs", "bsh")},
       |bench_set AS (SELECT DISTINCT sh FROM bsh)
       |SELECT c.id AS doc_id, count(*) AS n_hits, min(c.sh) AS first_hit
       |FROM csh c JOIN bench_set b ON c.sh = b.sh
       |GROUP BY c.id ORDER BY doc_id""".stripMargin

  private def quantizeOracle: String =
    s"""WITH flat AS (
       |  SELECT vec_id, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings, generate_series(1, 64) t(i)),
       |m AS (SELECT vec_id, max(abs(v)) AS abs_max FROM flat GROUP BY vec_id),
       |q AS (
       |  SELECT f.vec_id, v, abs_max / 127.0 AS scale,
       |    CASE WHEN abs_max > 0
       |      THEN greatest(-127.0, least(127.0, floor(v / (abs_max / 127.0) + 0.5)))
       |      ELSE 0.0 END AS code
       |  FROM flat f JOIN m USING (vec_id))
       |SELECT vec_id, round(any_value(scale), 9) AS scale,
       |  CAST(sum(code) AS BIGINT) AS code_sum,
       |  CASE WHEN any_value(scale) > 0
       |    THEN round(max(abs(v - code * scale)), 9) ELSE 0.0 END AS max_abs_err
       |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Mirror of Repetition.repetitionFeatures: non-distinct word 2-/3-
    * grams via the same 1-based token indexing the shingle CTEs use,
    * top-1 bigram by (count desc, gram asc), duplicate-trigram ratio,
    * and a LEFT JOIN onto the full document base so sub-3-token docs
    * keep their zero defaults.
    */
  /** Shared repetition-feature CTE chain ending in `top` (top bigram)
    * and `tgf` (duplicate-trigram fraction) — reused by the repetition
    * signal oracle and the composite quality-filter oracle.
    */
  private def repetitionCtes: String =
    s"""rt AS (
       |  SELECT doc_id, length(text) AS nch, string_split(text, ' ') AS t
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, nch, t[i] || ' ' || t[i+1] AS g
       |  FROM rt, generate_series(1, 65536) sb(i)
       |  WHERE i <= len(t) - 1),
       |bgc AS (SELECT doc_id, nch, g, count(*) AS c FROM bg GROUP BY 1, 2, 3),
       |top AS (
       |  SELECT doc_id, nch, g AS top_bigram, c AS top_bigram_count FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY c DESC, g) AS rn FROM bgc) WHERE rn = 1),
       |tg AS (
       |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
       |  FROM rt, generate_series(1, 65536) st(i)
       |  WHERE i <= len(t) - 2),
       |tgc AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2),
       |tgf AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) /
       |      CAST(sum(c) AS DOUBLE) AS dup_frac
       |  FROM tgc GROUP BY doc_id)""".stripMargin

  private def repetitionOracle: String =
    s"""WITH $repetitionCtes
       |SELECT d.doc_id,
       |  coalesce(top_bigram, '') AS top_bigram,
       |  CAST(coalesce(top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
       |  coalesce(round(CAST(top_bigram_count AS DOUBLE) *
       |    CAST(length(top_bigram) AS DOUBLE) / CAST(nch AS DOUBLE), 6), 0.0)
       |    AS top_bigram_frac,
       |  coalesce(round(dup_frac, 6), 0.0) AS dup_trigram_frac
       |FROM documents d
       |LEFT JOIN top ON top.doc_id = d.doc_id
       |LEFT JOIN tgf ON tgf.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Mirror of the multimodal_resize query: the nearest-neighbor
    * sampling arithmetic replayed over the synthesis formula — source
    * index = dest·src div dest per axis, with the BMP bottom-up flip
    * (image row y = file row h-1-y) applied exactly as the decoder
    * sees it. Sums are channel-order independent by construction.
    */
  private def resizeOracle: String =
    s"""WITH dims AS (
       |  SELECT doc_id, (doc_id % 21) + 1 AS w, ((doc_id * 5) % 17) + 1 AS h
       |  FROM documents),
       |grid AS (
       |  SELECT doc_id, w, h, gx.x AS x, gy.y AS y
       |  FROM dims, generate_series(0, 7) gx(x), generate_series(0, 3) gy(y)),
       |vals AS (
       |  SELECT doc_id, x, y,
       |      ((doc_id * 7 + ((x * w) // 8) * 13 + (h - 1 - ((y * h) // 4)) * 3) % 256)
       |    + ((doc_id * 3 + ((x * w) // 8) * 5  + (h - 1 - ((y * h) // 4)) * 7) % 256)
       |    + ((doc_id * 1 + ((x * w) // 8) * 11 + (h - 1 - ((y * h) // 4)) * 17) % 256)
       |      AS s
       |  FROM grid),
       |agg AS (
       |  SELECT doc_id, sum(s) AS total,
       |    max(CASE WHEN x = 0 AND y = 0 THEN s END) AS tl,
       |    max(CASE WHEN x = 7 AND y = 3 THEN s END) AS br
       |  FROM vals GROUP BY doc_id)
       |SELECT doc_id, 8 AS out_w, 4 AS out_h,
       |  round(CAST(total AS DOUBLE) / 96.0, 6) AS resized_mean,
       |  CAST(tl AS BIGINT) AS tl_sum, CAST(br AS BIGINT) AS br_sum
       |FROM agg ORDER BY doc_id""".stripMargin

  /** The dedup_image_dhash corpora: per-document 2D-gradient BMPs
    * with PLANTED even/odd near-dup twins (shared gradient, one
    * perturbed origin pixel) and md5-SALTED per-group slopes — ONE
    * builder behind the batch and incremental image-dedup gates, so
    * the two can never drift. See the batch gate's comment for the
    * construction; salts are MATERIALIZED per doc (collapse
    * re-inlining would re-run the md5 per pixel).
    */
  private[graft] def dhashTwinBmps(s: SparkSession, d: String): DataFrame =
    dhashTwinBmpsOf(Tables.documents(s, d).select(col("doc_id")))

  /** [[dhashTwinBmps]] over an arbitrary (doc_id) frame — the entry
    * point the STREAMING image-dedup gate synthesizes per-micro-batch
    * payloads through (the corpus is a pure function of doc_id, so a
    * streamed doc and the batch gate's doc carry the identical BMP).
    */
  private[graft] def dhashTwinBmpsOf(ids: DataFrame): DataFrame = {
      def le32(c: Column): Column = {
        val be = lpad(hex(c), 8, "0")
        concat(substring(be, 7, 2), substring(be, 5, 2),
          substring(be, 3, 2), substring(be, 1, 2))
      }
      val g0 = expr("doc_id DIV 2")
      // per-group SALTED gradient slopes (md5-derived odd multipliers,
      // the hashBucket hex convention): fixed slopes repeat the dHash
      // bit pattern every few g values and band buckets go quadratic —
      // salting makes fingerprints pseudo-random ACROSS groups while
      // twins (same g) stay near-identical, which is the property a
      // real image corpus has. The salts are MATERIALIZED per doc
      // (tiny frame) before the per-pixel synthesis lambdas: an
      // aliased projection would be collapse-re-inlined and the md5
      // re-evaluated per pixel per channel.
      val hx = md5(concat(lit("dh:"), g0.cast("string")).cast("binary"))
      def mulsOf(pos: Int): (Column, Column) = {
        val sv = conv(substring(hx, pos, 4), 16, 10).cast("long")
        (pmod(sv, lit(128L)) * 2 + 1,
          pmod(shiftright(sv, 7), lit(128L)) * 2 + 1)
      }
      val (a1, b1) = mulsOf(1)
      val (a2, b2) = mulsOf(5)
      val (a3, b3) = mulsOf(9)
      val seeded = ids.select(col("doc_id"),
          (pmod(col("doc_id"), lit(2)) === 1).as("odd"),
          g0.as("g"),
          (pmod(g0, lit(21)) + 8).cast("int").as("w"),
          (pmod(g0 * 5, lit(17)) + 8).cast("int").as("h"),
          a1.as("a1"), b1.as("b1"), a2.as("a2"), b2.as("b2"),
          a3.as("a3"), b3.as("b3"))
        .localCheckpoint()
      val g = col("g")
      val w = col("w")
      val h = col("h")
      val odd = col("odd")
      val rowSize = ((w * 3 + 3) / lit(4)).cast("int") * 4
      def chanV(fy: Column, x: Column, m: Int, a: Column, b: Column): Column =
        pmod(g * m + x * a + fy * b, lit(256))
      def chanHex(c: Column): Column = lpad(hex(c), 2, "0")
      val body = concat_ws("", transform(sequence(lit(0), h - 1), fy =>
        concat(
          concat_ws("", transform(sequence(lit(0), w - 1), x =>
            concat(
              chanHex(when(odd && x === 0 && fy === 0,
                  pmod(chanV(fy, x, 7, col("a1"), col("b1")) + 128, lit(256)))
                .otherwise(chanV(fy, x, 7, col("a1"), col("b1")))),
              chanHex(chanV(fy, x, 3, col("a2"), col("b2"))),
              chanHex(chanV(fy, x, 1, col("a3"), col("b3")))))),
          call_function("repeat", lit("00"), rowSize - w * 3))))
      val bmp = unhex(concat(
        lit("424D"), le32(lit(54) + rowSize * h), lit("00000000"),
        le32(lit(54)), le32(lit(40)), le32(w), le32(h), lit("0100"),
        lit("1800"), le32(lit(0)), le32(rowSize * h), le32(lit(2835)),
        le32(lit(2835)), le32(lit(0)), le32(lit(0)), body))
    seeded.withColumn("payload", bmp)
  }

  /** text_bpe_encode: the FULL tokenizer replayed in SQL — training
    * as [[BpeEncodeMerges]] unrolled per-iteration CTEs over the
    * vocabulary (pair-count → (cnt desc, a, b) argmax → merge), the
    * trained-constant-recomputed-in-SQL discipline of the k-means
    * oracles, then the corpus encode by joining each document's token
    * stream against the final per-word symbol strings. The merge
    * rewrite is a literal `replace` on the sentinel-wrapped symbol
    * form (`chr(1) sym chr(2)` per symbol): replace-all's
    * leftmost-non-overlapping scan IS the BPE merge rule, and the
    * sentinels make boundary-crossing matches impossible — the exact
    * construction the engine's chained-replace projection uses, so
    * both sides implement one rule two ways. Word length is bounded
    * by 64 like the bpe_pair_stats oracle; token position join uses
    * the list index so `enc` reassembles in document order. Integer
    * counts and exact strings only — no float anywhere.
    */
  private def bpeEncodeOracle: String = bpeEncodeOracleWhere("")

  /** The streaming gate's oracle is the batch encode restricted to
    * the streamed (isNew-ingest) docs — training stays corpus-wide
    * (the tokenizer is trained once on the era, then applied to the
    * arriving feed), only the FINAL row set narrows.
    */
  private def bpeEncodeStreamOracle: String = bpeEncodeOracleWhere(
    s"\n  AND (${sqlHexBucket(s"md5('$IncrementalSeed:' || d.doc_id)")} % 10000)" +
      s" < $IncrementalNewBp")

  private def bpeEncodeOracleWhere(extraWhere: String): String = {
    // v{r} is referenced TWICE downstream (the next iteration's
    // pair-count AND its rewrite) — MATERIALIZED, or CTE inlining
    // doubles the expansion per iteration (2^k copies of v0)
    val iterCtes = (1 to BpeEncodeMerges).map { r =>
      val prev = s"v${r - 1}"
      s"""p$r AS (
         |  SELECT ss[i] AS a, ss[i+1] AS b, CAST(sum(c) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(substr(s, 2, length(s) - 2),
         |      chr(2) || chr(1)) AS ss, c FROM $prev),
         |    generate_series(1, 64) g(i) WHERE i < len(ss)
         |  GROUP BY 1, 2),
         |t$r AS (SELECT a, b FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT word,
         |    replace(s, chr(1)||a||chr(2)||chr(1)||b||chr(2),
         |      chr(1)||a||b||chr(2)) AS s, c
         |  FROM $prev, t$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH w AS (SELECT t AS word, count(*) AS c FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '),
       |      x -> x <> '')) AS t
       |    FROM documents) GROUP BY t),
       |v0 AS (
       |  SELECT word,
       |    string_agg(chr(1) || substr(word, i, 1) || chr(2), ''
       |      ORDER BY i) AS s, c
       |  FROM w, generate_series(1, 64) g(i) WHERE i <= length(word)
       |  GROUP BY word, c),
       |$iterCtes,
       |wsyms AS (SELECT word,
       |    CAST(length(s) - length(replace(s, chr(1), '')) AS BIGINT)
       |      AS nsym, s
       |  FROM v$BpeEncodeMerges),
       |toks AS (SELECT doc_id,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
       |  FROM documents),
       |dw AS MATERIALIZED (SELECT doc_id, i, tk[i] AS word
       |  FROM toks, generate_series(1, 4096) g(i) WHERE i <= len(tk)),
       |guard AS (SELECT CASE WHEN (SELECT max(length(word)) FROM w) > 64
       |    OR (SELECT max(len(tk)) FROM toks) > 4096
       |  THEN error('bpe oracle unroll bound violated: a corpus word '
       |    || 'exceeds 64 chars or a document exceeds 4096 tokens — '
       |    || 'the engine encoders are unbounded; widen the '
       |    || 'generate_series bounds')
       |  ELSE 1 END AS ok),
       |cnt AS (SELECT dw.doc_id, CAST(sum(nsym) AS BIGINT) AS n_bpe
       |  FROM dw JOIN wsyms USING (word) GROUP BY dw.doc_id),
       |encs AS (SELECT dw.doc_id,
       |    string_agg(translate(s, chr(1)||chr(2), '|'), ' ' ORDER BY i)
       |      AS enc
       |  FROM dw JOIN wsyms USING (word)
       |  WHERE dw.doc_id < 20 GROUP BY dw.doc_id)
       |SELECT d.doc_id, coalesce(cnt.n_bpe, 0) AS n_bpe_tokens,
       |  CASE WHEN d.doc_id < 20 THEN coalesce(encs.enc, '') END AS enc
       |FROM documents d CROSS JOIN guard
       |LEFT JOIN cnt ON cnt.doc_id = d.doc_id
       |LEFT JOIN encs ON encs.doc_id = d.doc_id
       |WHERE guard.ok = 1$extraWhere
       |ORDER BY d.doc_id""".stripMargin
  }

  /** dedup_image_dhash: the dHash chain replayed arithmetically —
    * the 9×8 nearest-neighbor sample over the synthesis gradient
    * (source index = dest·src div dest per axis, bottom-up flip
    * fy = h-1-sy exactly as the decoder sees it, the resizeOracle
    * discipline), the odd-twin +128 perturbation on the file-origin
    * pixel, bits by row-major sign-of-adjacent-difference, the 4×16
    * band candidate join unrolled as an OR of band-slice equalities,
    * and the per-char Hamming verify at <= 3. Integer arithmetic and
    * exact strings only.
    */
  /** The dedup_audio_energy corpora: canonical 8-bit PCM mono WAVs
    * with PLANTED even/odd near-dup twins — one md5-salted sample
    * ramp (b + i·m mod 256, m odd) per group, the odd twin's first
    * sample bumped by 128. ONE builder behind the batch and
    * incremental audio-dedup gates; salts MATERIALIZED per doc (the
    * dhashTwinBmps discipline).
    */
  private[graft] def audioTwinWavs(s: SparkSession, d: String): DataFrame =
    audioTwinWavsOf(Tables.documents(s, d).select(col("doc_id")))

  /** [[audioTwinWavs]] over an arbitrary (doc_id) frame — the entry
    * point the STREAMING audio-dedup gate synthesizes per-micro-batch
    * payloads through (the corpus is a pure function of doc_id, the
    * dhashTwinBmpsOf discipline).
    */
  private[graft] def audioTwinWavsOf(ids: DataFrame): DataFrame = {
    def le32(c: Column): Column = {
      val be = lpad(hex(c), 8, "0")
      concat(substring(be, 7, 2), substring(be, 5, 2),
        substring(be, 3, 2), substring(be, 1, 2))
    }
    val g0 = expr("doc_id DIV 2")
    val hx = md5(concat(lit("ae:"), g0.cast("string")).cast("binary"))
    // the ramp carries a SALTED QUADRATIC scramble (q·(i² mod 251))
    // on top of the linear slope: a pure linear ramp's envelope bit
    // pattern is determined by (m, n) alone — ~9k distinct patterns
    // at a 100× corpus, hash collisions cluster entire groups into
    // the same band buckets and candidate mass goes quadratic
    // (measured 244× at 100×); the scramble gives each group a
    // pseudo-random envelope, the property a real audio corpus has
    val seeded = ids.select(col("doc_id"),
        (pmod(col("doc_id"), lit(2)) === 1).as("odd"),
        (lit(130L) + pmod(g0, lit(70))).as("n"),
        (pmod(conv(substring(hx, 1, 4), 16, 10).cast("long"),
          lit(128L)) * 2 + 1).as("m"),
        (pmod(shiftright(conv(substring(hx, 1, 4), 16, 10).cast("long"), 7),
          lit(128L)) * 2 + 1).as("q"),
        pmod(conv(substring(hx, 5, 4), 16, 10).cast("long"),
          lit(256L)).as("b"))
      .localCheckpoint()
    val n = col("n")
    val sampleHex = concat_ws("", transform(sequence(lit(0L), n - 1), i =>
      lpad(hex(pmod(
        pmod(col("b") + i * col("m") + pmod(i * i, lit(251L)) * col("q"),
          lit(256)) +
          when(col("odd") && i === 0, lit(128L)).otherwise(lit(0L)),
        lit(256))), 2, "0")))
    val wav = unhex(concat(
      lit(graft.ops.Multimodal.WavMagicRiffHex),
      le32((lit(36L) + n).cast("int")),
      lit(graft.ops.Multimodal.WavMagicWaveFmtHex), le32(lit(16)),
      lit("0100"), lit("0100"), // PCM, mono
      le32(lit(8000)), le32(lit(8000)),
      lit("0100"), lit("0800"), // block align 1, 8 bits/sample
      hex(lit("data".getBytes("US-ASCII"))), le32(n.cast("int")),
      sampleHex))
    seeded.withColumn("payload", wav)
  }

  /** dedup_audio_energy: the energy-hash chain replayed
    * arithmetically — window boundaries n·w div 65, window sums over
    * the synthesis ramp (+ the odd-twin first-sample bump),
    * cross-multiplied length-normalized comparisons, then the shared
    * banded-Hamming tail. Integer arithmetic and exact strings only.
    */
  private def audioEnergyOracle: String = audioEnergyOracleFor("TRUE")

  private def audioEnergyIncrementalOracle: String = {
    def isNew(c: String) =
      s"(${sqlHexBucket(s"md5('$IncrementalSeed:' || $c)")} % 10000)" +
        s" < $IncrementalNewBp"
    audioEnergyOracleFor(s"(${isNew("f1.doc_id")} OR ${isNew("f2.doc_id")})")
  }

  private def audioEnergyOracleFor(candPred: String): String =
    s"""WITH dims AS (
       |  SELECT doc_id, n, 2 * (s1 % 128) + 1 AS m,
       |    2 * ((s1 // 128) % 128) + 1 AS q, s2 % 256 AS b
       |  FROM (
       |    SELECT doc_id, g, 130 + (g % 70) AS n,
       |      ${sqlHexBucket("substr(md5('ae:' || g), 1, 4)")} AS s1,
       |      ${sqlHexBucket("substr(md5('ae:' || g), 5, 4)")} AS s2
       |    FROM (SELECT doc_id, doc_id // 2 AS g FROM documents))),
       |win AS (
       |  SELECT doc_id, w, (n * w) // 65 AS lo, (n * (w + 1)) // 65 AS hi
       |  FROM dims, generate_series(0, 64) t(w)),
       |samp AS MATERIALIZED (
       |  SELECT doc_id, i,
       |    ((b + i * m + ((i * i) % 251) * q) % 256 +
       |      CASE WHEN doc_id % 2 = 1 AND i = 0 THEN 128 ELSE 0 END) % 256
       |      AS v
       |  FROM dims, generate_series(0, 4095) t(i) WHERE i < n),
       |esum AS (
       |  SELECT w.doc_id, w.w, CAST(sum(s.v) AS BIGINT) AS e,
       |    CAST(w.hi - w.lo AS BIGINT) AS len
       |  FROM win w JOIN samp s ON s.doc_id = w.doc_id
       |    AND s.i >= w.lo AND s.i < w.hi
       |  GROUP BY w.doc_id, w.w, w.hi - w.lo),
       |bits AS (
       |  SELECT a.doc_id, a.w,
       |    CASE WHEN b2.e * a.len > a.e * b2.len THEN '1' ELSE '0' END AS bit
       |  FROM esum a JOIN esum b2
       |    ON b2.doc_id = a.doc_id AND b2.w = a.w + 1
       |  WHERE a.w <= 63),
       |fp AS (SELECT doc_id, string_agg(bit, '' ORDER BY w) AS hsh
       |  FROM bits GROUP BY doc_id),
       |${bandedHamTailSql(candPred)}""".stripMargin

  /** The dedup_video_temporal corpora: minimal uncompressed AVIs
    * (the multimodal_video_frames container layout — widths
    * 4-byte-aligned, solid-BGR 00db frames) with PLANTED even/odd
    * twins: per-channel frame colors follow an md5-salted mod-256
    * ramp over the frame index, the odd twin's first frame bumped by
    * 128 on one channel. nf >= 70 so all 65 temporal windows are
    * non-empty. Salts MATERIALIZED per doc (the dhashTwinBmps
    * discipline).
    */
  private[graft] def videoTwinAvis(s: SparkSession, d: String): DataFrame =
    videoTwinAvisOf(Tables.documents(s, d).select(col("doc_id")))

  /** [[videoTwinAvis]] over an arbitrary (doc_id) frame — the entry
    * point the STREAMING video-dedup gate synthesizes per-micro-batch
    * payloads through (the corpus is a pure function of doc_id, the
    * dhashTwinBmpsOf discipline).
    */
  private[graft] def videoTwinAvisOf(ids: DataFrame): DataFrame = {
    def le32(c: Column): Column = {
      val be = lpad(hex(c), 8, "0")
      concat(substring(be, 7, 2), substring(be, 5, 2),
        substring(be, 3, 2), substring(be, 1, 2))
    }
    def z32(n: Int): Column = lit("00000000" * n)
    val g0 = expr("doc_id DIV 2")
    val hx = md5(concat(lit("vt:"), g0.cast("string")).cast("binary"))
    def s4(pos: Int): Column =
      conv(substring(hx, pos, 4), 16, 10).cast("long")
    val seeded = ids.select(col("doc_id"),
        (pmod(col("doc_id"), lit(2)) === 1).as("odd"),
        lit(4).as("w"),
        (pmod(g0, lit(4)) + 2).cast("int").as("h"),
        (pmod(g0, lit(30)) + 70).cast("int").as("nf"),
        (pmod(s4(1), lit(128L)) * 2 + 1).as("m1"),
        (pmod(s4(5), lit(128L)) * 2 + 1).as("m2"),
        (pmod(s4(9), lit(128L)) * 2 + 1).as("m3"),
        // the audio gate's salted-quadratic scramble, per channel —
        // linear frame ramps alone leave the envelope pattern space
        // too small at a 100× corpus (see audioTwinWavs)
        (pmod(shiftright(s4(1), 7), lit(128L)) * 2 + 1).as("q1"),
        (pmod(shiftright(s4(5), 7), lit(128L)) * 2 + 1).as("q2"),
        (pmod(shiftright(s4(9), 7), lit(128L)) * 2 + 1).as("q3"),
        pmod(s4(13), lit(256L)).as("b1"),
        pmod(s4(17), lit(256L)).as("b2"),
        pmod(s4(21), lit(256L)).as("b3"))
      .localCheckpoint()
    val w = col("w")
    val h = col("h")
    val nf = col("nf")
    val frameSize = w * 3 * h
    def chanHex(f: Column, m: Column, q: Column, b: Column,
        bump: Boolean): Column = {
      val base = pmod(b + f * m + pmod(f * f, lit(251)) * q, lit(256))
      val v =
        if (bump)
          when(col("odd") && f === 0, pmod(base + 128, lit(256)))
            .otherwise(base)
        else base
      lpad(hex(v), 2, "0")
    }
    val framesHex = concat_ws("", transform(sequence(lit(0), nf - 1), f =>
      concat(lit("30306462"), le32(frameSize), // "00db" + size
        call_function("repeat",
          concat(chanHex(f, col("m1"), col("q1"), col("b1"), bump = true),
            chanHex(f, col("m2"), col("q2"), col("b2"), bump = false),
            chanHex(f, col("m3"), col("q3"), col("b3"), bump = false)),
          w * h))))
    val moviSize = lit(4) + nf * (frameSize + 8)
    val avi = unhex(concat(
      lit("52494646"), le32(lit(88) + moviSize), lit("41564920"),
      lit("4C495354"), le32(lit(68)), lit("6864726C"),
      lit("61766968"), le32(lit(56)), le32(lit(33333)), z32(3),
      le32(nf), lit("00000000"), le32(lit(1)), lit("00000000"),
      le32(w), le32(h), z32(4),
      lit("4C495354"), le32(moviSize), lit("6D6F7669"),
      framesHex))
    seeded.withColumn("payload", avi)
  }

  /** dedup_video_temporal: the temporal-envelope chain replayed
    * arithmetically — per-frame energies from the synthesis ramp,
    * the 65-window frame resample (nf·w div 65 boundaries),
    * cross-multiplied mean comparisons, the shared banded tail. */
  private def videoTemporalOracle: String = videoTemporalOracleFor("TRUE")

  private def videoTemporalIncrementalOracle: String = {
    def isNew(c: String) =
      s"(${sqlHexBucket(s"md5('$IncrementalSeed:' || $c)")} % 10000)" +
        s" < $IncrementalNewBp"
    videoTemporalOracleFor(
      s"(${isNew("f1.doc_id")} OR ${isNew("f2.doc_id")})")
  }

  private def videoTemporalOracleFor(candPred: String): String =
    s"""WITH dims AS (
       |  SELECT doc_id, w, h, nf,
       |    2 * (s1 % 128) + 1 AS m1, 2 * (s2 % 128) + 1 AS m2,
       |    2 * (s3 % 128) + 1 AS m3,
       |    2 * ((s1 // 128) % 128) + 1 AS q1,
       |    2 * ((s2 // 128) % 128) + 1 AS q2,
       |    2 * ((s3 // 128) % 128) + 1 AS q3,
       |    s4 % 256 AS b1, s5 % 256 AS b2, s6 % 256 AS b3
       |  FROM (
       |    SELECT doc_id, g, 4 AS w, (g % 4) + 2 AS h, (g % 30) + 70 AS nf,
       |      ${sqlHexBucket("substr(md5('vt:' || g), 1, 4)")} AS s1,
       |      ${sqlHexBucket("substr(md5('vt:' || g), 5, 4)")} AS s2,
       |      ${sqlHexBucket("substr(md5('vt:' || g), 9, 4)")} AS s3,
       |      ${sqlHexBucket("substr(md5('vt:' || g), 13, 4)")} AS s4,
       |      ${sqlHexBucket("substr(md5('vt:' || g), 17, 4)")} AS s5,
       |      ${sqlHexBucket("substr(md5('vt:' || g), 21, 4)")} AS s6
       |    FROM (SELECT doc_id, doc_id // 2 AS g FROM documents))),
       |frames AS MATERIALIZED (
       |  SELECT doc_id, f,
       |    CAST(w * h AS BIGINT) * (
       |        ((b1 + f * m1 + ((f * f) % 251) * q1) % 256 +
       |          CASE WHEN doc_id % 2 = 1 AND f = 0 THEN 128 ELSE 0 END)
       |          % 256
       |      + (b2 + f * m2 + ((f * f) % 251) * q2) % 256
       |      + (b3 + f * m3 + ((f * f) % 251) * q3) % 256) AS fsum,
       |    CAST(3 * w * h AS BIGINT) AS flen
       |  FROM dims, generate_series(0, 127) t(f) WHERE f < nf),
       |win AS (
       |  SELECT doc_id, v, (nf * v) // 65 AS lo, (nf * (v + 1)) // 65 AS hi
       |  FROM dims, generate_series(0, 64) t(v)),
       |esum AS (
       |  SELECT win.doc_id, v, CAST(sum(fsum) AS BIGINT) AS e,
       |    CAST(sum(flen) AS BIGINT) AS sz
       |  FROM win JOIN frames ON frames.doc_id = win.doc_id
       |    AND f >= lo AND f < hi
       |  GROUP BY win.doc_id, v),
       |bits AS (
       |  SELECT a.doc_id, a.v,
       |    CASE WHEN c.e * a.sz > a.e * c.sz THEN '1' ELSE '0' END AS bit
       |  FROM esum a JOIN esum c ON c.doc_id = a.doc_id AND c.v = a.v + 1
       |  WHERE a.v <= 63),
       |fp AS (SELECT doc_id, string_agg(bit, '' ORDER BY v) AS hsh
       |  FROM bits GROUP BY doc_id),
       |${bandedHamTailSql(candPred)}""".stripMargin

  /** The banded-Hamming candidate+verify SQL tail shared by every
    * fingerprint-family oracle (image dHash, audio energy hash):
    * expects a CTE `fp(doc_id, hsh)` in scope; 4×16-bit band OR-join,
    * per-char Hamming, threshold 3 — the exact mirror of
    * Dedup.bandedHammingPairs at the gated geometry.
    */
  private def bandedHamTailSql(candPred: String): String =
    s"""cand AS (
       |  SELECT f1.doc_id AS a, f2.doc_id AS b, f1.hsh AS ha, f2.hsh AS hb
       |  FROM fp f1 JOIN fp f2 ON f1.doc_id < f2.doc_id
       |  WHERE (substr(f1.hsh, 1, 16) = substr(f2.hsh, 1, 16)
       |     OR substr(f1.hsh, 17, 16) = substr(f2.hsh, 17, 16)
       |     OR substr(f1.hsh, 33, 16) = substr(f2.hsh, 33, 16)
       |     OR substr(f1.hsh, 49, 16) = substr(f2.hsh, 49, 16))
       |    AND $candPred),
       |ham AS (
       |  SELECT a, b, CAST(sum(CASE WHEN substr(ha, i, 1) <> substr(hb, i, 1)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS hamming
       |  FROM cand, generate_series(1, 64) t(i) GROUP BY a, b)
       |SELECT a, b, hamming FROM ham WHERE hamming <= 3
       |ORDER BY a, b""".stripMargin

  private def imageDHashOracle: String = imageDHashOracleFor("TRUE")

  /** dedup_image_dhash_incremental: the batch chain with the
    * candidate set restricted to pairs touching at least one NEW
    * member — and nothing else (the simhash-incremental oracle
    * discipline). */
  private def imageDHashIncrementalOracle: String = {
    def isNew(c: String) =
      s"(${sqlHexBucket(s"md5('$IncrementalSeed:' || $c)")} % 10000)" +
        s" < $IncrementalNewBp"
    imageDHashOracleFor(s"(${isNew("f1.doc_id")} OR ${isNew("f2.doc_id")})")
  }

  private def imageDHashOracleFor(candPred: String): String =
    s"""WITH dims AS (
       |  SELECT doc_id, g, w, h,
       |    2 * (s1 % 128) + 1 AS a1, 2 * ((s1 // 128) % 128) + 1 AS b1,
       |    2 * (s2 % 128) + 1 AS a2, 2 * ((s2 // 128) % 128) + 1 AS b2,
       |    2 * (s3 % 128) + 1 AS a3, 2 * ((s3 // 128) % 128) + 1 AS b3
       |  FROM (
       |    SELECT doc_id, g, w, h,
       |      ${sqlHexBucket("substr(md5('dh:' || g), 1, 4)")} AS s1,
       |      ${sqlHexBucket("substr(md5('dh:' || g), 5, 4)")} AS s2,
       |      ${sqlHexBucket("substr(md5('dh:' || g), 9, 4)")} AS s3
       |    FROM (SELECT doc_id, doc_id // 2 AS g,
       |        ((doc_id // 2) % 21) + 8 AS w,
       |        (((doc_id // 2) * 5) % 17) + 8 AS h
       |      FROM documents))),
       |grid AS (
       |  SELECT doc_id, g, (x * w) // 9 AS sx,
       |    h - 1 - ((y * h) // 8) AS fy, x, y,
       |    a1, b1, a2, b2, a3, b3
       |  FROM dims, generate_series(0, 8) gx(x), generate_series(0, 7) gy(y)),
       |samp AS (
       |  SELECT doc_id, x, y,
       |      ((g*7 + sx*a1 + fy*b1) % 256 +
       |        CASE WHEN doc_id % 2 = 1 AND sx = 0 AND fy = 0
       |          THEN 128 ELSE 0 END) % 256
       |    + (g*3 + sx*a2 + fy*b2) % 256
       |    + (g*1 + sx*a3 + fy*b3) % 256 AS s
       |  FROM grid),
       |bits AS (
       |  SELECT a.doc_id, a.y, a.x,
       |    CASE WHEN b.s > a.s THEN '1' ELSE '0' END AS bit
       |  FROM samp a JOIN samp b
       |    ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
       |  WHERE a.x <= 7),
       |fp AS (SELECT doc_id, string_agg(bit, '' ORDER BY y, x) AS hsh
       |  FROM bits GROUP BY doc_id),
       |${bandedHamTailSql(candPred)}""".stripMargin

  /** Mirror of Curation.qualityFilter: the same base signals
    * (text_quality's divisions of exact ints), the shared repetition
    * CTEs, and the identical rule CASE in the identical order with the
    * identical interpolated thresholds.
    */
  /** Shared chain ending in `rq(doc_id, n_tokens, mean_tok_len,
    * stop_ratio, top_bigram_frac, dup_trigram_frac, reason)` — the
    * Gopher-rule verdict, reused by the quality-filter and ensemble
    * oracles.
    */
  private def qualityCte: String = {
    // token-boundary stop-word count over the doubled-space form —
    // ONE alternation pass, mirroring TextAnalysis.tokenSetOccurrences
    // over the shared Gopher list
    val stopSum = sqlTokenSetCount(graft.ops.Curation.Stopwords)
    s"""$repetitionCtes,
       |base AS (
       |  SELECT doc_id,
       |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
       |      AS n_tokens,
       |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |      / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE)
       |      AS mean_tok_len,
       |    CAST($stopSum AS DOUBLE)
       |      / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE)
       |      AS stop_ratio
       |  FROM (SELECT doc_id, text,
       |    regexp_replace(' ' || text || ' ', ' ', '  ', 'g') AS d2
       |    FROM documents) doc2),
       |feats AS (
       |  SELECT d.doc_id,
       |    coalesce(round(CAST(top_bigram_count AS DOUBLE) *
       |      CAST(length(top_bigram) AS DOUBLE) / CAST(nch AS DOUBLE), 6), 0.0)
       |      AS top_bigram_frac,
       |    coalesce(round(dup_frac, 6), 0.0) AS dup_trigram_frac
       |  FROM documents d
       |  LEFT JOIN top ON top.doc_id = d.doc_id
       |  LEFT JOIN tgf ON tgf.doc_id = d.doc_id),
       |rq AS (
       |  SELECT b.doc_id, b.n_tokens, b.mean_tok_len, b.stop_ratio,
       |    f.top_bigram_frac, f.dup_trigram_frac,
       |    CASE
       |      WHEN b.n_tokens < $QfMinTokens THEN 'too_few_tokens'
       |      WHEN b.n_tokens > $QfMaxTokens THEN 'too_many_tokens'
       |      WHEN b.mean_tok_len < $QfMinMeanTokLen
       |        OR b.mean_tok_len > $QfMaxMeanTokLen THEN 'mean_tok_len'
       |      WHEN b.stop_ratio < $QfMinStopRatio THEN 'low_stopword_ratio'
       |      WHEN f.top_bigram_frac > $QfMaxTopBigramFrac
       |        THEN 'top_bigram_repetition'
       |      WHEN f.dup_trigram_frac > $QfMaxDupTrigramFrac
       |        THEN 'dup_trigram_repetition'
       |      ELSE '' END AS reason
       |  FROM base b JOIN feats f ON f.doc_id = b.doc_id)""".stripMargin
  }

  private def qualityFilterOracle: String =
    s"""WITH $qualityCte
       |SELECT doc_id, n_tokens, mean_tok_len, stop_ratio,
       |  top_bigram_frac, dup_trigram_frac, reason, (reason = '') AS keep
       |FROM rq ORDER BY doc_id""".stripMargin

  /** curation_quality_ensemble: the three tier chains composed
    * (collision-free CTE names), first failing tier named. */
  private def qualityEnsembleOracle: String =
    s"""WITH $qualityCte,
       |$lmScoredCte,
       |$pplThresholdCte,
       |$classifierCte,
       |ens AS (
       |  SELECT q.doc_id, q.reason AS gopher_reason,
       |    ${pplBucketCase("a.avg_logp")} AS bucket,
       |    c.pred_pos
       |  FROM rq q
       |  JOIN all_scored a ON a.doc_id = q.doc_id
       |  JOIN clf c ON c.doc_id = q.doc_id, th),
       |ens2 AS (
       |  SELECT doc_id, gopher_reason, bucket, pred_pos,
       |    CASE WHEN gopher_reason <> '' THEN 'gopher:' || gopher_reason
       |         WHEN bucket = 'tail' THEN 'ppl:tail'
       |         WHEN NOT pred_pos THEN 'classifier:neg'
       |         ELSE '' END AS reason
       |  FROM ens)
       |SELECT doc_id, gopher_reason, bucket, pred_pos, reason,
       |  (reason = '') AS keep
       |FROM ens2 ORDER BY doc_id""".stripMargin

  /** Mirror of the pii_redact query: identical doc_id salting CASE,
    * independent raw-text match counts (see Pii.scala's count-semantics
    * note), and the same email→phone→IPv4 redaction chain. The regexes
    * interpolate verbatim from Pii — RE2/Java-compatible by design.
    */
  private def piiOracle: String = {
    val em = graft.ops.Pii.EmailRe
    val ph = graft.ops.Pii.PhoneRe
    val ip = graft.ops.Pii.Ipv4Re
    def cnt(re: String) = s"CAST(len(regexp_extract_all(salted, '$re')) AS BIGINT)"
    s"""WITH salted_docs AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 4 = 0
       |        THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
       |      WHEN doc_id % 4 = 1
       |        THEN text || ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |      WHEN doc_id % 4 = 2
       |        THEN text || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
       |          || '.' || CAST((doc_id % 65536) // 256 AS VARCHAR)
       |      ELSE text END AS salted
       |  FROM documents)
       |SELECT doc_id,
       |  ${cnt(em)} AS n_emails,
       |  ${cnt(ph)} AS n_phones,
       |  ${cnt(ip)} AS n_ips,
       |  md5(regexp_replace(regexp_replace(regexp_replace(salted,
       |    '$em', '[EMAIL]', 'g'), '$ph', '[PHONE]', 'g'), '$ip', '[IP]', 'g'))
       |    AS red_fp
       |FROM salted_docs ORDER BY doc_id""".stripMargin
  }

  /** Mirror of Ranking.bm25TopK: per-term tf via the doubled-space
    * trick (sqlTokenCount), single-row stats CTE, and the identical
    * left-to-right double score expression — idf, k1/b constants, and
    * 6-dp rounding BEFORE the top-k ordering, exactly as the Spark
    * side computes them.
    */
  /** The BM25 CTE chain through `scored(doc_id, score)` — shared by
    * the rank_bm25 oracle and the RRF hybrid oracles (same constants,
    * same formula text, different list depths downstream). `p`
    * prefixes every CTE name so the chain can be embedded beside CTE
    * families that also define `scored`/`stats` (the IVF-PQ chain in
    * the hybrid-ANN oracle).
    */
  private def bm25ScoredCtes(p: String = "",
      terms: Seq[String] = Bm25Terms): String = {
    val tfs = terms.indices.map(i => s"${sqlTokenCount(terms(i))} AS tf$i")
      .mkString(",\n    ")
    val dfs = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val score = terms.indices.map { i =>
      val tf = s"CAST(tf$i AS DOUBLE)"
      val dfi = s"CAST(df$i AS DOUBLE)"
      val idf = s"ln(1.0 + (CAST(n_docs AS DOUBLE) - $dfi + 0.5) / ($dfi + 0.5))"
      s"$idf * $tf * ${Bm25K1 + 1} / ($tf + $Bm25K1 * ((1.0 - $Bm25B) + " +
        s"($Bm25B * CAST(dl AS DOUBLE)) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
    }.mkString("(", " + ", ")")
    s"""${p}raw AS (
       |  SELECT doc_id,
       |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS dl,
       |    regexp_replace(' ' || text || ' ', ' ', '  ', 'g') AS d2
       |  FROM documents),
       |${p}tf AS (
       |  SELECT doc_id, dl,
       |    $tfs
       |  FROM ${p}raw),
       |${p}stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl, $dfs FROM ${p}tf),
       |${p}scored AS (
       |  SELECT doc_id, round($score, 6) AS score FROM ${p}tf, ${p}stats)""".stripMargin
  }

  private def bm25Oracle: String =
    s"""WITH ${bm25ScoredCtes()},
       |top AS (SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT $Bm25TopK)
       |SELECT doc_id, score,
       |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk
       |FROM top ORDER BY rk""".stripMargin

  /** rank_rrf_hybrid: the BM25 chain and the exact-cosine chain each
    * ranked to RrfDepth, full-outer-joined on doc_id, fused by
    * Σ 1/(RrfK + rank) (missing arm contributes 0), top Bm25TopK by
    * (rrf desc, doc_id). 1/(k+rank) is one correctly-rounded division
    * of exact integers — bit-identical cross-engine; rounded 9 dp.
    */
  private def rrfHybridOracle: String =
    s"""WITH ${bm25ScoredCtes()},
       |lexr AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk_lex
       |  FROM scored ORDER BY rk_lex LIMIT $RrfDepth),
       |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |qv AS (SELECT ve AS qe FROM corp WHERE vec_id = 0),
       |csc AS (
       |  SELECT c.vec_id AS doc_id, ${cosSql("q.qe", "c.ve")} AS cosine
       |  FROM corp c, qv q WHERE c.vec_id != 0),
       |semr AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT) AS rk_sem
       |  FROM csc ORDER BY rk_sem LIMIT $RrfDepth),
       |fused AS (
       |  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.rk_lex, s.rk_sem,
       |    round(coalesce(1.0 / ($RrfK + l.rk_lex), 0.0) +
       |      coalesce(1.0 / ($RrfK + s.rk_sem), 0.0), 9) AS rrf
       |  FROM lexr l FULL OUTER JOIN semr s ON s.doc_id = l.doc_id)
       |SELECT doc_id, rk_lex, rk_sem, rrf,
       |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk
       |FROM fused ORDER BY rk LIMIT $Bm25TopK""".stripMargin

  /** rank_rrf_hybrid_ann: the seed-restricted persistent IVF-PQ chain
    * (ivfPqOracleFor with the frozen-model training predicate — shared
    * verbatim with ann_ivfpq_persistent) retrieves RefineR ADC
    * candidates, the exact-cosine refine CTEs re-rank them (shared
    * with ann_ivfpq_refine), qid 0's refined list becomes the semantic
    * arm, and the BM25 chain (prefixed `bm_` — it defines its own
    * `scored`/`stats`) plus the full-outer RRF fusion are shared with
    * rank_rrf_hybrid. Every piece is a proven chain; only the
    * composition is new.
    */
  /** The exact-re-rank CTE pair over the composed chain's `ranked`
    * relation — shared VERBATIM by both ANN-armed RRF oracles (the
    * refine block must not fork between them; a skew in one would be
    * an opaque hash mismatch, not a visible diff).
    */
  private def annRefineCtes: String =
    s""",refine AS (
       |  SELECT r.qid, r.vec_id, ${cosSql("q.ve", "cv.ve")} AS cosine
       |  FROM ranked r
       |  JOIN corp cv ON cv.vec_id = r.vec_id
       |  JOIN qv q ON q.qid = r.qid
       |  WHERE r.rk <= $RefineR),
       |rranked AS (
       |  SELECT qid, vec_id, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
       |  FROM refine)""".stripMargin

  private def rrfHybridAnnOracle: String = ivfPqOracleFor(
    s"(${sqlHexBucket(s"md5('$IncrementalSeed:' || vec_id)")} % 10000)" +
      s" >= $IncrementalNewBp",
    tail = s"""$annRefineCtes,
       |semr AS (
       |  SELECT vec_id AS doc_id, CAST(rk AS BIGINT) AS rk_sem
       |  FROM rranked WHERE qid = 0 AND rk <= $RrfDepth),
       |${bm25ScoredCtes("bm_")},
       |lexr AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk_lex
       |  FROM bm_scored ORDER BY rk_lex LIMIT $RrfDepth),
       |fused AS (
       |  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.rk_lex, s.rk_sem,
       |    round(coalesce(1.0 / ($RrfK + l.rk_lex), 0.0) +
       |      coalesce(1.0 / ($RrfK + s.rk_sem), 0.0), 9) AS rrf
       |  FROM lexr l FULL OUTER JOIN semr s ON s.doc_id = l.doc_id)
       |SELECT doc_id, rk_lex, rk_sem, rrf,
       |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk
       |FROM fused ORDER BY rk LIMIT $Bm25TopK""".stripMargin)

  /** rank_rrf_batch_ann: the seed-restricted persistent chain + refine
    * CTEs (shared with rank_rrf_hybrid_ann — here ALL qids' refined
    * lists survive as semantic arms), the three prefixed BM25 chains,
    * and the per-qid partitioned fusion (shared with rank_rrf_batch).
    */
  private def rrfBatchAnnOracle: String = {
    val bmChains = RrfBatchTerms.map { case (qid, terms) =>
      bm25ScoredCtes(s"q${qid}_", terms) }.mkString(",\n")
    val lexArms = RrfBatchTerms.map { case (qid, _) =>
      s"""  SELECT CAST($qid AS BIGINT) AS qid, doc_id, rk_lex FROM (
         |    SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk_lex
         |    FROM q${qid}_scored) WHERE rk_lex <= $RrfDepth""".stripMargin
    }.mkString("\n  UNION ALL\n")
    ivfPqOracleFor(
      s"(${sqlHexBucket(s"md5('$IncrementalSeed:' || vec_id)")} % 10000)" +
        s" >= $IncrementalNewBp",
      tail = s"""$annRefineCtes,
         |semr AS (
         |  SELECT qid, vec_id AS doc_id, CAST(rk AS BIGINT) AS rk_sem
         |  FROM rranked WHERE rk <= $RrfDepth),
         |$bmChains,
         |lexr AS (
         |$lexArms),
         |fused AS (
         |  SELECT coalesce(l.qid, s.qid) AS qid,
         |    coalesce(l.doc_id, s.doc_id) AS doc_id, l.rk_lex, s.rk_sem,
         |    round(coalesce(1.0 / ($RrfK + l.rk_lex), 0.0) +
         |      coalesce(1.0 / ($RrfK + s.rk_sem), 0.0), 9) AS rrf
         |  FROM lexr l FULL OUTER JOIN semr s
         |    ON s.qid = l.qid AND s.doc_id = l.doc_id)
         |SELECT qid, doc_id, rk_lex, rk_sem, rrf, rk FROM (
         |  SELECT qid, doc_id, rk_lex, rk_sem, rrf,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk
         |  FROM fused) WHERE rk <= $Bm25TopK
         |ORDER BY qid, rk""".stripMargin)
  }

  /** rank_rrf_batch: three prefixed BM25 chains (one per query's term
    * set), the per-qid brute-force cosine arm, and the fusion with
    * every window PARTITIONED BY qid — the oracle of the
    * no-global-sort batch plan.
    */
  private def rrfBatchOracle: String = {
    val bmChains = RrfBatchTerms.map { case (qid, terms) =>
      bm25ScoredCtes(s"q${qid}_", terms) }.mkString(",\n")
    val lexArms = RrfBatchTerms.map { case (qid, _) =>
      s"""  SELECT CAST($qid AS BIGINT) AS qid, doc_id, rk_lex FROM (
         |    SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk_lex
         |    FROM q${qid}_scored) WHERE rk_lex <= $RrfDepth""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val qids = RrfBatchTerms.map(_._1).mkString(", ")
    s"""WITH $bmChains,
       |lexr AS (
       |$lexArms),
       |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |qv AS (SELECT vec_id AS qid, ve FROM corp WHERE vec_id IN ($qids)),
       |csc AS (
       |  SELECT q.qid, c.vec_id AS doc_id, ${cosSql("q.ve", "c.ve")} AS cosine
       |  FROM corp c, qv q WHERE c.vec_id != q.qid),
       |semr AS (
       |  SELECT qid, doc_id, rk_sem FROM (
       |    SELECT qid, doc_id,
       |      CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, doc_id) AS BIGINT) AS rk_sem
       |    FROM csc) WHERE rk_sem <= $RrfDepth),
       |fused AS (
       |  SELECT coalesce(l.qid, s.qid) AS qid,
       |    coalesce(l.doc_id, s.doc_id) AS doc_id, l.rk_lex, s.rk_sem,
       |    round(coalesce(1.0 / ($RrfK + l.rk_lex), 0.0) +
       |      coalesce(1.0 / ($RrfK + s.rk_sem), 0.0), 9) AS rrf
       |  FROM lexr l FULL OUTER JOIN semr s
       |    ON s.qid = l.qid AND s.doc_id = l.doc_id)
       |SELECT qid, doc_id, rk_lex, rk_sem, rrf, rk FROM (
       |  SELECT qid, doc_id, rk_lex, rk_sem, rrf,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk
       |  FROM fused) WHERE rk <= $Bm25TopK
       |ORDER BY qid, rk""".stripMargin
  }

  /** PQ constants shared by the Spark query and its oracle. */
  /** Quality-filter thresholds, shared verbatim by the Spark operator
    * and its SQL oracle (numeric literals interpolate identically into
    * both). Chosen so each rule fires on a real fraction of the
    * synthetic corpus (token p10 ≈ 21, mean-token-length band ≈
    * 3.7-5.3, stopword p50 ≈ 0.026).
    */
  private val QfMinTokens = 16L
  private val QfMaxTokens = 100000L
  private val QfMinMeanTokLen = 3.0
  private val QfMaxMeanTokLen = 5.0
  private val QfMinStopRatio = 0.01
  private val QfMaxTopBigramFrac = 0.18
  private val QfMaxDupTrigramFrac = 0.2

  // visible to Bench: the pq_recall diagnostic must measure the SAME
  // codebook geometry the gated queries run
  private[graft] val PqM = 4
  private[graft] val PqK = 8
  private[graft] val PqIters = 2
  private val PqSample = 10000
  private val PqDims = 64

  /** OPQ-lite Givens steps: 16 rotations over 64 dims — each
    * dimension touched ~0.5× in expectation, enough to mix
    * coordinates across all four PQ subspace boundaries while keeping
    * the per-dimension expression accumulation shallow.
    */
  private[graft] val OpqSteps = 16

  /** Mirror of Similarity.pqTrain + pqCodes: per subspace, the k-means
    * iterations UNROLLED in SQL with the identical rounded L2²
    * expansion (`x·x - 2·x·c + c·c`, all sequential list dots) and
    * rounded per-dim means, then the final per-subspace code
    * assignment and the rounded total reconstruction distance.
    */
  private def pqDistSql(xs: String, ce: String) =
    s"round(list_dot_product($xs, $xs) - 2 * list_dot_product($xs, $ce) + " +
      s"list_dot_product($ce, $ce), 6)"

  /** Shared CTE chain: trained per-subspace codebooks `c{s}_{iters}`
    * and per-corpus-vector code assignments `code{s}(vec_id, cid, d)`
    * — the SQL retraining of Similarity.pqTrain (see pqOracle doc).
    */
  private def pqCodebookCtes: String =
    s"""corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |samp AS (SELECT vec_id, ve FROM corp ORDER BY vec_id LIMIT $PqSample),
       |$pqCodebookBodyCtes""".stripMargin

  /** The per-subspace PQ training/encoding CTEs WITHOUT the corp/samp
    * prefix — so the IVF-PQ composed oracle can share one corp/samp
    * with the coarse-quantizer chain (IvfSample == PqSample and both
    * samples are the ordered id prefix, so the two prefixes are the
    * same relation). Ends in `code0..code{m-1}(vec_id, cid, d)`.
    */
  private def pqCodebookBodyCtes: String = pqCodebookBodyCtesOver()

  /** [[pqCodebookBodyCtes]] with the training-sample / encode-corpus
    * CTE names as parameters — the residual IVF-PQ oracle trains and
    * encodes over RESIDUAL relations (`sampr`/`residc`) instead of
    * the raw `samp`/`corp`; everything else is byte-identical.
    */
  private def pqCodebookBodyCtesOver(sampName: String = "samp",
      corpName: String = "corp"): String = {
    val sub = PqDims / PqM
    val perSubspace = (0 until PqM).map { s =>
      val lo = s * sub + 1
      val hi = s * sub + sub
      val iterCtes = (1 to PqIters).map { r =>
        val prev = s"c${s}_${r - 1}"
        s"""a${s}_$r AS (
           |  SELECT vec_id, cid, d FROM (
           |    SELECT vec_id, cid, d,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
           |    FROM (SELECT v.vec_id, c.cid, ${pqDistSql("v.xs", "c.ce")} AS d
           |          FROM sv$s v, $prev c)) WHERE rn = 1),
           |m${s}_$r AS (
           |  SELECT a.cid, f.j, round(avg(f.v), 6) AS mv
           |  FROM a${s}_$r a JOIN flat$s f ON f.vec_id = a.vec_id
           |  GROUP BY a.cid, f.j),
           |c${s}_$r AS (
           |  SELECT p.cid, coalesce(n.ce, p.ce) AS ce
           |  FROM c${s}_${r - 1} p LEFT JOIN (
           |    SELECT cid, list(mv ORDER BY j) AS ce FROM m${s}_$r GROUP BY cid) n
           |    ON n.cid = p.cid)""".stripMargin
      }.mkString(",\n")
      s"""sv$s AS (SELECT vec_id, ve[$lo:$hi] AS xs FROM $sampName),
         |flat$s AS (SELECT vec_id, j, xs[j] AS v
         |  FROM sv$s, generate_series(1, $sub) t$s(j)),
         |c${s}_0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, xs AS ce
         |  FROM sv$s ORDER BY vec_id LIMIT $PqK),
         |$iterCtes,
         |code$s AS (
         |  SELECT vec_id, cid, d FROM (
         |    SELECT vec_id, cid, d,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM (SELECT v.vec_id, c.cid,
         |            ${pqDistSql(s"v.ve[$lo:$hi]", "c.ce")} AS d
         |          FROM $corpName v, c${s}_$PqIters c)) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    perSubspace
  }

  private def pqOracle: String = {
    val joins = (1 until PqM).map(s =>
      s"JOIN code$s q$s ON q$s.vec_id = q0.vec_id").mkString("\n")
    val codeCols = (0 until PqM).map(s => s"q$s.cid AS code$s").mkString(", ")
    val reconSum = (0 until PqM).map(s => s"q$s.d").mkString(" + ")
    s"""WITH $pqCodebookCtes
       |SELECT q0.vec_id, $codeCols,
       |  round($reconSum, 6) AS recon_err
       |FROM code0 q0
       |$joins
       |ORDER BY q0.vec_id""".stripMargin
  }

  /** Mirror of Similarity.pqAdcTopK: per-query lookup cells against
    * the retrained codebooks (same rounded L2² expansion), approximate
    * distance = rounded sum of the m cells selected by each corpus
    * vector's codes, then per-query top-k.
    */
  private def pqAdcOracle: String = pqAdcOracleFor("vec_id IN (0, 1, 2)")

  /** The batch variant differs ONLY in the query-set predicate — the
    * scoring/top-k SQL is identical, which is the point: one oracle
    * shape gates both the per-query and the single-scan batch plans.
    */
  private def pqAdcBatchOracle: String =
    pqAdcOracleFor("vec_id % 7 = 3 AND vec_id < 2000")

  /** ann_opq_pq: the [[Similarity.opqSchedule]] Givens chain applied
    * step-by-step as CTEs (each step rewrites two coordinates with
    * the exact-rational cos/sin — the same IEEE multiply/add sequence
    * the engine's per-dimension expression accumulation performs),
    * then the UNCHANGED PQ codebook chain and ADC scoring tail over
    * the rotated `corp`. `corp` is MATERIALIZED (DuckDB-only hint, as
    * in the residual oracles) so the multi-consumer rotation chain
    * evaluates once.
    */
  /** The r0..rN Givens-chain CTEs shared by every OPQ oracle —
    * generated from the SAME schedule the engine rotates with.
    * Ends at relation `r${OpqSteps}(vec_id, ve)`.
    */
  private def opqChainCtes: String = {
    val steps = graft.ops.Similarity.opqSchedule(OpqSteps, PqDims)
    val chain = steps.zipWithIndex.map { case ((i, j, c, s), t) =>
      s"""r${t + 1} AS (
         |  SELECT vec_id, list_transform(generate_series(1, $PqDims),
         |    p -> CASE
         |      WHEN p = ${i + 1} THEN ve[${i + 1}] * ($c) - ve[${j + 1}] * ($s)
         |      WHEN p = ${j + 1} THEN ve[${i + 1}] * ($s) + ve[${j + 1}] * ($c)
         |      ELSE ve[p] END) AS ve
         |  FROM r$t)""".stripMargin
    }.mkString(",\n")
    s"""r0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |$chain""".stripMargin
  }

  private def opqPqOracle: String = {
    val prelude =
      s"""$opqChainCtes,
         |corp AS MATERIALIZED (SELECT vec_id, ve FROM r$OpqSteps),
         |samp AS (SELECT vec_id, ve FROM corp ORDER BY vec_id LIMIT $PqSample),
         |$pqCodebookBodyCtes""".stripMargin
    pqAdcOracleFor("vec_id IN (0, 1, 2)", prelude)
  }

  /** `prelude` supplies everything through `code0..code{m-1}` —
    * default is the raw-corpus codebook chain; the OPQ leg swaps in a
    * rotation prefix ahead of the same chain. The scoring tail is
    * shared verbatim.
    */
  private def pqAdcOracleFor(qidPred: String,
      prelude: String = pqCodebookCtes): String = {
    val sub = PqDims / PqM
    val cellCtes = (0 until PqM).map { s =>
      val lo = s * sub + 1
      val hi = s * sub + sub
      s"""cell$s AS (
         |  SELECT q.qid, c.cid, ${pqDistSql(s"q.ve[$lo:$hi]", "c.ce")} AS cell
         |  FROM qv q, c${s}_$PqIters c)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (1 until PqM).map(s =>
      s"JOIN code$s k$s ON k$s.vec_id = k0.vec_id").mkString("\n  ")
    val cellJoins = (0 until PqM).map(s =>
      s"JOIN cell$s ce$s ON ce$s.cid = k$s.cid" +
        (if (s == 0) "" else " AND ce" + s + ".qid = ce0.qid")).mkString("\n  ")
    val cellSum = (0 until PqM).map(s => s"ce$s.cell").mkString(" + ")
    s"""WITH $prelude,
       |qv AS (SELECT vec_id AS qid, ve FROM corp WHERE $qidPred),
       |$cellCtes,
       |scored AS (
       |  SELECT ce0.qid, k0.vec_id, round($cellSum, 6) AS adist
       |  FROM code0 k0
       |  $codeJoins
       |  $cellJoins
       |  WHERE k0.vec_id != ce0.qid),
       |ranked AS (
       |  SELECT qid, vec_id, adist,
       |    row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rk
       |  FROM scored)
       |SELECT qid, vec_id, adist, rk FROM ranked WHERE rk <= 5
       |ORDER BY qid, rk""".stripMargin
  }

  /** Mirror of Similarity.ivfPqTopKBatch — the composed IVF-PQ oracle:
    * the coarse-quantizer training/assignment chain (shared verbatim
    * with ann_ivf) routes each query to its IvfPqProbes nearest lists,
    * and the PQ codebook chain (shared verbatim with ann_pq_adc)
    * scores ONLY vectors assigned to a probed list via the same ADC
    * cell sum. The one new clause is the probes join — everything
    * upstream is the two proven CTE families composed.
    */
  private def ivfPqOracle: String = ivfPqOracleFor("TRUE")

  /** ann_ivfpq_persistent: the SAME composed chain with the training
    * sample restricted to the seed-time (old-split) corpus — the
    * frozen-model contract of graft.ops.AnnIndex (quantizers train
    * once at seed; arrivals are encoded, never retrained on). The
    * assignment and code CTEs still run over the FULL corpus: seed
    * encodes the old split, appends encode the new with the frozen
    * books, and the union is exactly "every vector encoded with the
    * final constants".
    */
  private def ivfPqPersistentOracle: String = ivfPqOracleFor(
    s"(${sqlHexBucket(s"md5('$IncrementalSeed:' || vec_id)")} % 10000)" +
      s" >= $IncrementalNewBp")

  /** ann_ivfpq_persistent_delete: the persistent chain with the
    * ~5% tombstoned victim set excluded from the CANDIDATE relation —
    * and from nothing else: deletes never retrain a frozen-model
    * index, so training/assignment are identical to the non-delete
    * persistent leg.
    */
  private def ivfPqPersistentDeleteOracle: String = ivfPqOracleFor(
    s"(${sqlHexBucket(s"md5('$IncrementalSeed:' || vec_id)")} % 10000)" +
      s" >= $IncrementalNewBp",
    s"(${sqlHexBucket(s"md5('$DeleteSeed:' || k0.vec_id)")} % 10000)" +
      s" < $DeleteBp")

  /** ann_ivfpq_persistent_filtered: the persistent chain with
    * DISALLOWED ids excluded from the candidate relation — same
    * parameterization as the delete oracle (a filter, like a delete,
    * never touches training/assignment).
    */
  private def ivfPqPersistentFilteredOracle: String = ivfPqOracleFor(
    s"(${sqlHexBucket(s"md5('$IncrementalSeed:' || vec_id)")} % 10000)" +
      s" >= $IncrementalNewBp",
    s"(${sqlHexBucket(s"md5('$FilterSeed:' || k0.vec_id)")} % 10000)" +
      s" < $FilterBp")

  /** ann_ivfpq_filtered_refine: the filtered persistent chain (the
    * oracle above) with the shared refine CTEs re-ranking the
    * already-filtered survivors — the composed RAG-retrieval oracle.
    */
  private def ivfPqFilteredRefineOracle: String = ivfPqOracleFor(
    s"(${sqlHexBucket(s"md5('$IncrementalSeed:' || vec_id)")} % 10000)" +
      s" >= $IncrementalNewBp",
    s"(${sqlHexBucket(s"md5('$FilterSeed:' || k0.vec_id)")} % 10000)" +
      s" < $FilterBp",
    tail = s"""$annRefineCtes
       |SELECT qid, vec_id, cosine, rk FROM rranked WHERE rk <= 5
       |ORDER BY qid, rk""".stripMargin)

  /** Mirror of Similarity.ivfPqResidualTopKBatch — the classical
    * IVFADC oracle: the coarse chain is shared verbatim with ann_ivf,
    * then residual relations (`residc` for the corpus, `sampr` for the
    * training sample — elementwise `ve[i] - ce[i]` against each row's
    * assigned final centroid, plain IEEE doubles both engines compute
    * identically) feed the SAME PQ codebook chain via
    * [[pqCodebookBodyCtesOver]], and the ADC cells are PER
    * (query, probed list) because the query residual differs per list.
    */
  private def ivfPqResidualOracle: String =
    materializeResidualCtes(ivfPqResidualOracleFor("TRUE"))

  /** ann_ivfpq_persistent_residual: the residual chain with the
    * training sample restricted to the seed-time corpus — the
    * persisted IVFADC's frozen-model contract (same parameterization
    * as [[ivfPqPersistentOracle]]).
    */
  private def ivfPqPersistentResidualOracle: String =
    materializeResidualCtes(ivfPqResidualOracleFor(
      s"(${sqlHexBucket(s"md5('$IncrementalSeed:' || vec_id)")} % 10000)" +
        s" >= $IncrementalNewBp"))

  /** DuckDB-only MATERIALIZED hints on the residual oracles' heavy
    * shared relations: DuckDB inlines CTEs, so `code0..code3` each
    * re-derive `residc` — which re-runs the whole unrolled k-means
    * chain — and the oracle goes from ~1 s to unbounded-minutes.
    * Materializing residc/sampr/qres/assigned pins each to one
    * evaluation (measured: 120 s+ → 1.1-1.8 s at sf0.01). The hint is
    * valid DuckDB 1.0 syntax and the oracles never run on Spark.
    */
  private def materializeResidualCtes(sql: String): String = sql
    .replace("residc AS (", "residc AS MATERIALIZED (")
    .replace("sampr AS (", "sampr AS MATERIALIZED (")
    .replace("qres AS (", "qres AS MATERIALIZED (")
    .replace("assigned AS (", "assigned AS MATERIALIZED (")

  private def ivfPqResidualOracleFor(sampPred: String): String = {
    require(IvfSample == PqSample,
      "composed oracle shares one samp CTE — keep the sample caps equal")
    val sub = PqDims / PqM
    val cf = s"c$IvfIters"
    val cellCtes = (0 until PqM).map { s =>
      val lo = s * sub + 1
      val hi = s * sub + sub
      s"""cell$s AS (
         |  SELECT qr.qid, qr.lcid, c.cid,
         |    ${pqDistSql(s"qr.rv[$lo:$hi]", "c.ce")} AS cell
         |  FROM qres qr, c${s}_$PqIters c)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (1 until PqM).map(s =>
      s"JOIN code$s k$s ON k$s.vec_id = k0.vec_id").mkString("\n  ")
    val cellJoins = (0 until PqM).map(s =>
      s"JOIN cell$s ce$s ON ce$s.cid = k$s.cid AND ce$s.lcid = av.cid" +
        (if (s == 0) "" else " AND ce" + s + ".qid = ce0.qid")).mkString("\n  ")
    val cellSum = (0 until PqM).map(s => s"ce$s.cell").mkString(" + ")
    s"""WITH ${ivfTrainAssignCtes(sampPred)},
       |residc AS (
       |  SELECT a.vec_id,
       |    list_transform(generate_series(1, $PqDims),
       |      i -> corp.ve[i] - cf.ce[i]) AS ve
       |  FROM assigned a
       |  JOIN corp ON corp.vec_id = a.vec_id
       |  JOIN $cf cf ON cf.cid = a.cid),
       |sampr AS (
       |  SELECT r.vec_id, r.ve FROM residc r
       |  JOIN samp s ON s.vec_id = r.vec_id),
       |${pqCodebookBodyCtesOver(sampName = "sampr", corpName = "residc")},
       |qv AS (SELECT vec_id AS qid, ve FROM corp WHERE vec_id IN (0, 1, 2)),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${cosSql("q.ve", "c.ce")} DESC, c.cid) AS rn
       |    FROM qv q, $cf c) WHERE rn <= $IvfPqProbes),
       |qres AS (
       |  SELECT p.qid, p.cid AS lcid,
       |    list_transform(generate_series(1, $PqDims),
       |      i -> q.ve[i] - cf.ce[i]) AS rv
       |  FROM probes p
       |  JOIN qv q ON q.qid = p.qid
       |  JOIN $cf cf ON cf.cid = p.cid),
       |$cellCtes,
       |scored AS (
       |  SELECT ce0.qid, k0.vec_id, round($cellSum, 6) AS adist
       |  FROM code0 k0
       |  $codeJoins
       |  JOIN assigned av ON av.vec_id = k0.vec_id
       |  $cellJoins
       |  WHERE k0.vec_id != ce0.qid),
       |ranked AS (
       |  SELECT qid, vec_id, adist,
       |    row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rk
       |  FROM scored)
       |SELECT qid, vec_id, adist, rk FROM ranked WHERE rk <= 5
       |ORDER BY qid, rk""".stripMargin
  }

  /** `sampPred` restricts the TRAINING sample (frozen-model legs);
    * `delPred` (over `k0.vec_id`) excludes tombstone-deleted ids from
    * the CANDIDATE set only — deletes never retrain the quantizers,
    * so training/assignment CTEs are untouched by it.
    */
  /** Default final select of the composed IVF-PQ oracle; [[ivfPqOracleFor]]
    * callers may swap it (the refine leg re-ranks `ranked` instead).
    */
  private def ivfPqOracleTail: String =
    """SELECT qid, vec_id, adist, rk FROM ranked WHERE rk <= 5
      |ORDER BY qid, rk""".stripMargin

  private def ivfPqOracleFor(sampPred: String,
      delPred: String = "FALSE",
      tail: String = ivfPqOracleTail,
      prefix: String = "",
      corpSrc: String =
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings",
      corpMat: Boolean = false): String = {
    require(IvfSample == PqSample,
      "composed oracle shares one samp CTE — keep the sample caps equal")
    val sub = PqDims / PqM
    val cellCtes = (0 until PqM).map { s =>
      val lo = s * sub + 1
      val hi = s * sub + sub
      s"""cell$s AS (
         |  SELECT q.qid, c.cid, ${pqDistSql(s"q.ve[$lo:$hi]", "c.ce")} AS cell
         |  FROM qv q, c${s}_$PqIters c)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (1 until PqM).map(s =>
      s"JOIN code$s k$s ON k$s.vec_id = k0.vec_id").mkString("\n  ")
    val cellJoins = (0 until PqM).map(s =>
      s"JOIN cell$s ce$s ON ce$s.cid = k$s.cid" +
        (if (s == 0) "" else " AND ce" + s + ".qid = ce0.qid")).mkString("\n  ")
    val cellSum = (0 until PqM).map(s => s"ce$s.cell").mkString(" + ")
    s"""WITH $prefix${ivfTrainAssignCtes(sampPred, corpSrc, corpMat)},
       |$pqCodebookBodyCtes,
       |qv AS (SELECT vec_id AS qid, ve FROM corp WHERE vec_id IN (0, 1, 2)),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${cosSql("q.ve", "c.ce")} DESC, c.cid) AS rn
       |    FROM qv q, c$IvfIters c) WHERE rn <= $IvfPqProbes),
       |$cellCtes,
       |scored AS (
       |  SELECT ce0.qid, k0.vec_id, round($cellSum, 6) AS adist
       |  FROM code0 k0
       |  $codeJoins
       |  JOIN assigned av ON av.vec_id = k0.vec_id
       |  $cellJoins
       |  JOIN probes pr ON pr.qid = ce0.qid AND pr.cid = av.cid
       |  WHERE k0.vec_id != ce0.qid AND NOT ($delPred)),
       |ranked AS (
       |  SELECT qid, vec_id, adist,
       |    row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rk
       |  FROM scored)""".stripMargin + "\n" + tail
  }

  /** ann_ivfpq_persistent_opq: the persistent chain with the OPQ
    * Givens pre-rotation folded in — the rotation CTEs rewrite `corp`
    * to the rotated space (MATERIALIZED: every downstream CTE family
    * re-references corp), the training sample restricts to the
    * seed-time corpus, and queries rank/score in the rotated space
    * exactly as AnnIndex.queryBatch's driver-side opqRotateVec does.
    */
  private def ivfPqPersistentOpqOracle: String = ivfPqOracleFor(
    s"(${sqlHexBucket(s"md5('$IncrementalSeed:' || vec_id)")} % 10000)" +
      s" >= $IncrementalNewBp",
    prefix = opqChainCtes + ",\n",
    corpSrc = s"SELECT vec_id, ve FROM r$OpqSteps",
    corpMat = true)

  /** ann_ivfpq_refine: the composed IVF-PQ chain retrieves the top
    * RefineR candidates per query by ADC, then exact cosine against
    * the raw vectors re-ranks ONLY those survivors — the faiss RFlat
    * refinement. The tail swaps the default rk<=5 select for the
    * re-rank CTEs; everything upstream is the proven chain verbatim.
    */
  private def ivfPqRefineOracle: String = ivfPqOracleFor("TRUE", tail =
    s""",refine AS (
       |  SELECT r.qid, r.vec_id, ${cosSql("q.ve", "cv.ve")} AS cosine
       |  FROM ranked r
       |  JOIN corp cv ON cv.vec_id = r.vec_id
       |  JOIN qv q ON q.qid = r.qid
       |  WHERE r.rk <= $RefineR),
       |rranked AS (
       |  SELECT qid, vec_id, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
       |  FROM refine)
       |SELECT qid, vec_id, cosine, rk FROM rranked WHERE rk <= 5
       |ORDER BY qid, rk""".stripMargin)

  /** ann_binary_hamming: Hamming distance without the bit packing —
    * the count of dimensions whose SIGNS disagree is definitionally
    * popcount(xor(signbits)), so the oracle counts sign mismatches
    * over the unnested embedding (one flat join), ranks survivors by
    * (hamming, vec_id) to BinRerank exactly as the bounded heap does,
    * and re-ranks them with the shared exact-cosine tail.
    */
  /** ONE surv/refine/final template behind BOTH bq oracles (the
    * never-fork refine discipline — a depth or tie-break edit must hit
    * the flat and persistent forms together, or the drift surfaces
    * only as an opaque hash mismatch): expects `ham(qid, vec_id,
    * hamming)` and `q(qid, qe)` upstream; `vecJoin`/`vecId`/`vecExpr`
    * bind the raw-vector source (embeddings for flat, the chain's
    * corp for persistent).
    */
  private def bqSurvRefineSql(vecJoin: String, vecId: String,
      vecExpr: String): String =
    s"""surv AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY hamming, vec_id)
       |        AS hrk
       |    FROM ham) h
       |  WHERE hrk <= $BinRerank),
       |refine AS (
       |  SELECT s.qid, s.vec_id,
       |    ${cosSql("q.qe", vecExpr)} AS cosine
       |  FROM surv s
       |  JOIN $vecJoin ON $vecId = s.vec_id
       |  JOIN q ON q.qid = s.qid),
       |rranked AS (
       |  SELECT qid, vec_id, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id)
       |      AS rk
       |  FROM refine)
       |SELECT qid, vec_id, cosine, rk FROM rranked WHERE rk <= 5
       |ORDER BY qid, rk""".stripMargin

  private def binaryHammingOracle: String =
    s"""WITH q AS (
       |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
       |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
       |flat AS (
       |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings, generate_series(1, $BinDims) t(i)),
       |qf AS (SELECT vec_id AS qid, i, v AS qv FROM flat
       |  WHERE vec_id IN (0, 1, 2)),
       |ham AS (
       |  SELECT qf.qid, f.vec_id,
       |    sum(CASE WHEN (f.v > 0) <> (qf.qv > 0) THEN 1 ELSE 0 END)
       |      AS hamming
       |  FROM flat f JOIN qf ON qf.i = f.i AND f.vec_id != qf.qid
       |  GROUP BY qf.qid, f.vec_id),
       |${bqSurvRefineSql("embeddings e", "e.vec_id",
          "CAST(e.embedding AS DOUBLE[])")}""".stripMargin

  /** rank_mmr: the greedy argmax unrolled as MmrK chained one-row
    * CTEs — step i scores every unselected candidate against the
    * union of steps 1..i−1 (max over round-6 pairwise cosines) and
    * keeps the (mmr desc, vec_id) top row, exactly the driver-side
    * greedy. `+ 0` normalizes a possible IEEE −0.0 out of DuckDB's
    * round (Spark's BigDecimal rounding cannot produce one).
    */
  /** The greedy unroll shared by the flat and persistent-ANN MMR
    * oracles: expects a `cand(vec_id, rel)` CTE upstream; `ceSrc`
    * supplies the candidates' vectors (embeddings for the flat form,
    * the chain's `corp` for the ANN form).
    */
  private def mmrGreedyCtes(ceSrc: String): String = {
    val pick1 =
      s"""s1 AS (
         |  SELECT vec_id, round($MmrLambda * rel, 6) + 0 AS mmr
         |  FROM ce ORDER BY mmr DESC, vec_id LIMIT 1)""".stripMargin
    val steps = (2 to MmrK).map { i =>
      val sel = (1 until i).map(j => s"SELECT vec_id FROM s$j")
        .mkString(" UNION ALL ")
      s"""s$i AS (
         |  SELECT c.vec_id,
         |    round($MmrLambda * c.rel - $MmrGamma * max(s.s), 6) + 0 AS mmr
         |  FROM ce c JOIN sim s ON s.ia = c.vec_id AND s.ib IN ($sel)
         |  WHERE c.vec_id NOT IN ($sel)
         |  GROUP BY c.vec_id, c.rel
         |  ORDER BY mmr DESC, c.vec_id LIMIT 1)""".stripMargin
    }
    val finalSel = (1 to MmrK).map(i =>
        s"SELECT vec_id, mmr, CAST($i AS BIGINT) AS rk FROM s$i")
      .mkString("\nUNION ALL\n")
    // ce/sim MATERIALIZED: the greedy steps reference them 2(k-1)
    // times — un-pinned, DuckDB re-inlines the whole upstream chain
    // per reference (the ANN form ran out of file handles); both are
    // bounded frames (MmrN rows / MmrN² pairs)
    s"""ce AS MATERIALIZED ($ceSrc),
       |sim AS MATERIALIZED (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    ${cosSql("a.v", "b.v")} AS s
       |  FROM ce a JOIN ce b ON a.vec_id != b.vec_id),
       |$pick1,
       |${steps.mkString(",\n")}
       |$finalSel
       |ORDER BY rk""".stripMargin
  }

  private def mmrOracle: String =
    s"""WITH q AS (
       |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
       |  WHERE vec_id = 0),
       |cand AS (
       |  SELECT e.vec_id,
       |    ${cosSql("q.qe", "CAST(e.embedding AS DOUBLE[])")} AS rel
       |  FROM embeddings e, q WHERE e.vec_id != 0
       |  ORDER BY rel DESC, e.vec_id LIMIT $MmrN),
       |${mmrGreedyCtes(
          """SELECT c.vec_id, c.rel, CAST(e.embedding AS DOUBLE[]) AS v
            |  FROM cand c JOIN embeddings e USING (vec_id)""".stripMargin)}"""
      .stripMargin

  /** rank_mmr_ann: the seed-restricted persistent chain + refine CTEs
    * (shared with the hybrid oracles) produce the refined top-MmrN as
    * `cand`, then the SAME greedy unroll runs on the chain's `corp`
    * vectors.
    */
  private def mmrAnnOracle: String = ivfPqOracleFor(
    s"(${sqlHexBucket(s"md5('$IncrementalSeed:' || vec_id)")} % 10000)" +
      s" >= $IncrementalNewBp",
    tail = s"""$annRefineCtes,
       |cand AS MATERIALIZED (
       |  SELECT vec_id, cosine AS rel FROM rranked
       |  WHERE qid = 0 AND rk <= $MmrN),
       |${mmrGreedyCtes(
          """SELECT c.vec_id, c.rel, cv.ve AS v
            |  FROM cand c JOIN corp cv USING (vec_id)""".stripMargin)}"""
      .stripMargin)

  /** rank_ndcg_eval: the round-6 cosine ranking re-derived by window,
    * gains pivoted to g1..gk, DCG as the SAME left-to-right k-term
    * literal-weight expression the engine compiles, ideal DCG from
    * the SAME driver-printed prefix-sum table (shortest-repr double
    * literals round-trip to the identical doubles).
    */
  /** ONE NDCG metric tail behind the flat and persistent-ANN eval
    * oracles: expects a `rankedSrc` relation with (qid, vec_id, rk)
    * upstream; attaches neighbor + query labels itself (so any arm —
    * the round-6 cosine window, the persistent chain's rranked —
    * plugs in), then the per-rank pivot, the fixed-order
    * literal-weight DCG, and the driver-printed ideal table.
    */
  private def ndcgTailSql(rankedSrc: String): String = {
    val w = (1 to NdcgK).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
    val dcgExpr = (1 to NdcgK).map(i =>
      s"coalesce(g$i, 0.0) * ${w(i - 1)}").mkString(" + ")
    val idcgTable = w.scanLeft(0.0)(_ + _)
    val idcgCase = (0 to NdcgK).map(c =>
      s"WHEN $c THEN ${idcgTable(c)}").mkString(" ")
    val pivCols = (1 to NdcgK).map(i =>
      s"max(CASE WHEN rk = $i THEN g END) AS g$i").mkString(", ")
    s"""qlab AS (SELECT vec_id AS qid, label AS qlabel FROM embeddings
       |  WHERE vec_id IN (0, 1, 2)),
       |gains AS (
       |  SELECT r.qid, r.rk,
       |    CASE WHEN e.label = ql.qlabel THEN CAST(1 AS DOUBLE)
       |         ELSE CAST(0 AS DOUBLE) END AS g
       |  FROM $rankedSrc r
       |  JOIN embeddings e ON e.vec_id = r.vec_id
       |  JOIN qlab ql ON ql.qid = r.qid
       |  WHERE r.rk <= $NdcgK),
       |piv AS (SELECT qid, $pivCols FROM gains GROUP BY qid),
       |rel AS (
       |  SELECT ql.qid, count(*) AS n_rel
       |  FROM embeddings e JOIN qlab ql
       |    ON e.label = ql.qlabel AND e.vec_id != ql.qid
       |  GROUP BY ql.qid)
       |SELECT p.qid, coalesce(r.n_rel, 0) AS n_rel,
       |  CASE WHEN coalesce(r.n_rel, 0) = 0 THEN 0.0
       |       ELSE round(($dcgExpr) /
       |         (CASE least(coalesce(r.n_rel, 0), $NdcgK) $idcgCase END), 6)
       |  END AS ndcg
       |FROM piv p LEFT JOIN rel r ON r.qid = p.qid
       |ORDER BY p.qid""".stripMargin
  }

  private def ndcgOracle: String =
    s"""WITH q AS (
       |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
       |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
       |scored AS (
       |  SELECT q.qid, e.vec_id,
       |    ${cosSql("q.qe", "CAST(e.embedding AS DOUBLE[])")} AS cosine
       |  FROM embeddings e, q WHERE e.vec_id != q.qid),
       |ranked AS (
       |  SELECT qid, vec_id,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id)
       |      AS rk
       |  FROM scored),
       |${ndcgTailSql("ranked")}""".stripMargin

  /** rank_ndcg_eval_ann: the persistent chain + refine CTEs rank, the
    * SAME metric tail scores — the index's RANKING quality against
    * labels (the recall canaries measure only overlap with exact).
    */
  private def ndcgAnnOracle: String = ivfPqOracleFor(
    s"(${sqlHexBucket(s"md5('$IncrementalSeed:' || vec_id)")} % 10000)" +
      s" >= $IncrementalNewBp",
    tail = s"""$annRefineCtes,
       |${ndcgTailSql("rranked")}""".stripMargin)

  /** text_ngram_novelty: the k=3 shingle universe (the SAME CTE the
    * Jaccard/containment oracles use), per-gram min-id, per-doc
    * exact-integer sum/count ratio.
    */
  private def noveltyOracle: String =
    s"""WITH $shinglesCte,
       |fs AS (SELECT sh, min(id) AS first_id FROM sh GROUP BY sh)
       |SELECT s.id AS doc_id, count(*) AS n_shingles,
       |  round(CAST(sum(CASE WHEN s.id = f.first_id THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS novelty
       |FROM sh s JOIN fs f ON f.sh = s.sh
       |GROUP BY s.id ORDER BY doc_id""".stripMargin

  /** Mirror of Curation.zValue: the same 16-bit Morton interleave as
    * explicit shift/mask arithmetic.
    */
  private def zorderOracle: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((ua >> $i) & 1) << ${2 * i})",
      s"(((vb >> $i) & 1) << ${2 * i + 1})"))
    s"""SELECT event_id, ${terms.mkString(" | ")} AS zval
       |FROM (SELECT event_id, CAST(user_id AS BIGINT) AS ua,
       |  CAST(floor(value) AS BIGINT) AS vb FROM events)
       |ORDER BY event_id""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "layout_zorder" -> zorderOracle,

    // the bucketed layout must not change the JOIN's result — recount
    // as a plain join
    "layout_bucketed" ->
      """SELECT d.doc_id, d.lang, d.n_chars, len(e.embedding) AS dims
        |FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "text_repetition" -> repetitionOracle,
    "pii_redact" -> piiOracle,
    "rank_bm25" -> bm25Oracle,
    // the persisted-index serving path is bit-identical to the
    // corpus-scan path by the shared-expression contract
    // (Bm25Store scaladoc + Bm25StoreSpec), so the oracle is shared
    "rank_bm25_persistent" -> bm25Oracle,
    // seed + streamed appends == one full build (per-doc postings,
    // additive stats ledger — Bm25StoreSpec pins the algebra), so the
    // maintenance gate shares the same oracle
    "stream_bm25_ingest" -> bm25Oracle,
    "rank_mmr" -> mmrOracle,
    "rank_mmr_ann" -> mmrAnnOracle,
    "rank_ndcg_eval" -> ndcgOracle,
    "rank_ndcg_eval_ann" -> ndcgAnnOracle,
    "rank_mrr_eval" -> mrrEvalOracle,
    "curation_sample_priority" -> prioritySampleOracle,
    "rank_rrf_hybrid" -> rrfHybridOracle,
    "ann_binary_hamming" -> binaryHammingOracle,
    "text_ngram_novelty" -> noveltyOracle,
    "rank_rrf_hybrid_ann" -> rrfHybridAnnOracle,
    // both persisted arms are bit-identical to their in-session twins
    // (Bm25StoreSpec / the frozen-model batching-invariance pins), so
    // the fully-persistent hybrid shares the ANN-armed oracle verbatim
    "rank_rrf_hybrid_persistent" -> rrfHybridAnnOracle,
    "rank_rrf_batch" -> rrfBatchOracle,
    "rank_rrf_batch_ann" -> rrfBatchAnnOracle,
    "embedding_pq" -> pqOracle,
    "ann_pq_adc" -> pqAdcOracle,
    "ann_pq_adc_batch" -> pqAdcBatchOracle,
    "ann_opq_pq" -> opqPqOracle,
    "curation_hash_split" -> hashSplitOracle,
    "curation_decontaminate" -> decontaminateOracle,
    "curation_quantize_int8" -> quantizeOracle,
    // fuzzy decontamination: the proven minhash sig/band CTEs, corpus
    // bands joined to benchmark bands (ids < 100), exact-Jaccard
    // verify >= 0.8, then the per-corpus-doc rollup (best = max
    // jaccard, ties to the smaller bench id)
    "curation_decontaminate_fuzzy" ->
      s"""WITH $shinglesCte,
         |$minhashSigBandsCtes,
         |cand AS (
         |  SELECT DISTINCT x.id AS a, y.id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bkey = y.bkey
         |  WHERE x.id >= 100 AND y.id < 100),
         |inter AS (
         |  SELECT c.a, c.b, count(*) AS ni
         |  FROM cand c
         |  JOIN sh sa ON sa.id = c.a
         |  JOIN sh sb ON sb.id = c.b AND sa.sh = sb.sh
         |  GROUP BY c.a, c.b),
         |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         |verf AS (
         |  SELECT i.a, i.b,
         |    round(CAST(ni AS DOUBLE) / (na.n + nb.n - ni), 6) AS j
         |  FROM inter i
         |  JOIN sizes na ON na.id = i.a
         |  JOIN sizes nb ON nb.id = i.b
         |  WHERE round(CAST(ni AS DOUBLE) / (na.n + nb.n - ni), 6) >= 0.8),
         |agg AS (
         |  SELECT a, CAST(count(*) AS BIGINT) AS n_bench_dups,
         |    max(j) AS best_jaccard
         |  FROM verf GROUP BY a)
         |SELECT g.a AS doc_id, g.n_bench_dups, g.best_jaccard,
         |  min(v.b) AS best_bench
         |FROM agg g JOIN verf v ON v.a = g.a AND v.j = g.best_jaccard
         |GROUP BY g.a, g.n_bench_dups, g.best_jaccard
         |ORDER BY doc_id""".stripMargin,
    // DSIR: hashed unigram+bigram buckets, Laplace-smoothed target/raw
    // log-ratio as ONE ln of an exact integer rational per bucket,
    // raw doubles summed per doc, final weight rounded 4dp — the
    // text_lm_logprob discipline (+ 0 kills DuckDB's -0.0)
    "curation_dsir_weights" ->
      s"""WITH words AS (
         |  SELECT doc_id, (source = 'src0') AS is_t,
         |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
         |  FROM documents),
         |uni AS (SELECT doc_id, is_t, unnest(w) AS gram FROM words),
         |bi AS (SELECT doc_id, is_t, w[i] || ' ' || w[i+1] AS gram
         |  FROM words, generate_series(1, 65536) g(i) WHERE i < len(w)),
         |feats AS (SELECT doc_id, is_t,
         |    ${sqlHexBucket("md5('dsir:' || gram)")} % $DsirBuckets AS b
         |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
         |db AS (SELECT doc_id, is_t, b, count(*) AS c
         |  FROM feats GROUP BY 1, 2, 3),
         |gb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr,
         |    CAST(sum(CASE WHEN is_t THEN c ELSE 0 END) AS BIGINT) AS ct
         |  FROM db GROUP BY b),
         |tots AS (SELECT CAST(sum(cr) AS BIGINT) AS r_tot,
         |    CAST(sum(ct) AS BIGINT) AS t_tot FROM gb),
         |lr AS (SELECT b,
         |    ln(CAST((ct + 1) * (r_tot + $DsirBuckets) AS DOUBLE) /
         |      CAST((cr + 1) * (t_tot + $DsirBuckets) AS DOUBLE)) AS lr
         |  FROM gb, tots),
         |w AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
         |    round(sum(CAST(c AS DOUBLE) * lr), 4) + 0 AS dsir_logw
         |  FROM db JOIN lr USING (b) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_feats, CAST(0 AS BIGINT)) AS n_feats,
         |  coalesce(dsir_logw, 0.0) AS dsir_logw
         |FROM documents d LEFT JOIN w USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_chunks" -> chunkDedupOracle,
    "curation_temperature_mix" -> temperatureMixOracle,
    "embedding_source_cosine" -> sourceCosineOracle,

    "dedup_exact_salted" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS dups
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,

    "ann_ivf" -> ivfOracle,
    "ann_ivf_hash" -> ivfHashOracle,
    "ann_ivf_sq8" -> ivfSq8Oracle,
    "ann_ivfsq8_persistent" -> ivfSq8PersistentOracle,
    "ann_ivfbq_persistent" -> ivfBqPersistentOracle,
    "ann_ivfpq_refine" -> ivfPqRefineOracle,
    "ann_ivfpq_persistent_opq" -> ivfPqPersistentOpqOracle,
    // matryoshka: truncated-prefix cosine top-RefineR (1-based
    // inclusive list slice = Spark's slice), exact full-dim re-rank
    "ann_matryoshka_refine" ->
      s"""WITH corp AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         |q AS (SELECT vec_id AS qid, ve FROM corp WHERE vec_id IN (0, 1, 2)),
         |tsc AS (
         |  SELECT q.qid, c.vec_id,
         |    ${cosSql(s"q.ve[1:$MrlDims]", s"c.ve[1:$MrlDims]")} AS tcos
         |  FROM corp c, q WHERE c.vec_id != q.qid),
         |tr AS (
         |  SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY tcos DESC, vec_id) AS rk
         |  FROM tsc),
         |surv AS (SELECT qid, vec_id FROM tr WHERE rk <= $RefineR),
         |refine AS (
         |  SELECT s.qid, s.vec_id, ${cosSql("q.ve", "c.ve")} AS cosine
         |  FROM surv s
         |  JOIN corp c ON c.vec_id = s.vec_id
         |  JOIN q ON q.qid = s.qid),
         |rranked AS (
         |  SELECT qid, vec_id, cosine,
         |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
         |  FROM refine)
         |SELECT qid, vec_id, cosine, rk FROM rranked WHERE rk <= 5
         |ORDER BY qid, rk""".stripMargin,
    "ann_ivf_pq" -> ivfPqOracle,
    "ann_ivf_pq_residual" -> ivfPqResidualOracle,
    "ann_ivfpq_persistent_residual" -> ivfPqPersistentResidualOracle,
    "ann_ivfpq_persistent" -> ivfPqPersistentOracle,
    // reseed retrains on the CURRENT full corpus — its oracle is the
    // plain full-corpus IVF-PQ chain, not the old-split-trained
    // persistent variant (see the gate comment)
    "ann_ivfpq_reseed" -> ivfPqOracle,
    "ann_ivfsq8_reseed" -> ivfSq8Oracle,
    "ann_ivfpq_persistent_delete" -> ivfPqPersistentDeleteOracle,
    "ann_ivfpq_persistent_filtered" -> ivfPqPersistentFilteredOracle,
    "ann_ivfpq_filtered_refine" -> ivfPqFilteredRefineOracle,

    // duplicated-substring spans: positional 8-gram anchors (the
    // shinglesCteFor construction, positions kept), grams in ≥2
    // distinct docs, gaps-and-islands per doc (i − row_number() is
    // constant on a run), runs ≥ 2
    "dedup_substring_spans" -> {
      val terms = (0 until SubstrK).map(j => s"t[i+$j]")
        .mkString(" || ' ' || ")
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |pos AS (
         |  SELECT doc_id, i, $terms AS g
         |  FROM tk, generate_series(1, 65536) sp(i)
         |  WHERE i <= len(t) - ${SubstrK - 1}),
         |dup AS (
         |  SELECT g FROM (SELECT DISTINCT g, doc_id FROM pos)
         |  GROUP BY g HAVING count(*) >= 2),
         |isl AS (
         |  SELECT doc_id, i,
         |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS isl
         |  FROM pos JOIN dup USING (g))
         |SELECT doc_id, CAST(min(i) AS BIGINT) AS start_pos,
         |  CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(count(*) + ${SubstrK - 1} AS BIGINT) AS span_tokens
         |FROM isl GROUP BY doc_id, isl HAVING count(*) >= $SubstrMinRun
         |ORDER BY doc_id, start_pos""".stripMargin
    },
    // boilerplate strip: the same span derivation, then covered token
    // positions exploded FROM the spans, anti-joined against the
    // per-doc token positions, reassembled in position order; every
    // document survives (empty text + 0 kept when fully covered)
    "dedup_substring_strip" -> {
      val terms = (0 until SubstrK).map(j => s"t[i+$j]")
        .mkString(" || ' ' || ")
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |pos AS (
         |  SELECT doc_id, i, $terms AS g
         |  FROM tk, generate_series(1, 65536) sp(i)
         |  WHERE i <= len(t) - ${SubstrK - 1}),
         |dup AS (
         |  SELECT g FROM (SELECT DISTINCT g, doc_id FROM pos)
         |  GROUP BY g HAVING count(*) >= 2),
         |isl AS (
         |  SELECT doc_id, i,
         |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS isl
         |  FROM pos JOIN dup USING (g)),
         |spans AS (
         |  SELECT doc_id, min(i) AS start_pos,
         |    count(*) + ${SubstrK - 1} AS span_tokens
         |  FROM isl GROUP BY doc_id, isl
         |  HAVING count(*) >= $SubstrMinRun),
         |cov AS (
         |  SELECT DISTINCT doc_id, start_pos + j AS p
         |  FROM spans, generate_series(0, 65536) g(j)
         |  WHERE j < span_tokens),
         |toks AS (
         |  SELECT doc_id, i AS p, t[i] AS tok
         |  FROM tk, generate_series(1, 65536) g(i) WHERE i <= len(t)),
         |kept AS (
         |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
         |    string_agg(tok, ' ' ORDER BY t.p) AS text_stripped
         |  FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.p
         |  WHERE c.p IS NULL GROUP BY t.doc_id)
         |SELECT d.doc_id, coalesce(kept_tokens, CAST(0 AS BIGINT)) AS kept_tokens,
         |  coalesce(text_stripped, '') AS text_stripped
         |FROM documents d LEFT JOIN kept k USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },
    // identical oracle: the frozen-model encode is batching-invariant,
    // so streaming the arrivals through the event store produces the
    // same index as the three-append build
    "stream_ann_ingest" -> ivfPqPersistentOracle,

    "dedup_embedding_cosine" -> embeddingNearDupOracle,

    // the streaming cosine probe: unpruned multi-table recount
    // restricted to pairs touching a new vec (batch-division-
    // invariant, same argument as the text probes)
    "stream_dedup_embedding" -> embeddingNearDupIncrementalOracle,
    "stream_dedup_embedding_pruned" -> embeddingNearDupIncrementalOracle,
    "dedup_semantic" -> semanticDedupOracle,

    "text_bpe_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(lower(text),
         |    '${graft.ops.TextAnalysis.BpePattern}')) AS BIGINT) AS n_subtokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_rolling_hash" -> rollingHashOracle,

    "es_ingest_versions" ->
      """SELECT 'user-' || user_id AS stream_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1
        |    AS stream_version,
        |  event_type AS event_name, epoch_ms(ts) AS ts_ms, props AS payload
        |FROM events ORDER BY stream_id, stream_version""".stripMargin,

    // Exactly-once recount: the doubled feed collapsed by streaming
    // dedup must deliver precisely the distinct event set — per-stream
    // (count, max, sum) of the gapless version sequence.
    "stream_dedup_deliver" ->
      """SELECT stream_id, count(*) AS n_events, max(v) AS max_version,
        |  CAST(sum(v) AS BIGINT) AS version_sum
        |FROM (SELECT 'user-' || user_id AS stream_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS v
        |  FROM events)
        |GROUP BY stream_id ORDER BY stream_id""".stripMargin,

    // Batch theta-join recount of the streaming interval join: same
    // µs-truncated event times (DuckDB reads TIMESTAMP(NANOS) at µs;
    // Spark side is timestamp_micros(ns div 1000)), same inclusive
    // window bounds.
    "stream_interval_join" ->
      """WITH v AS (SELECT 'user-' || user_id AS stream_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS v,
        |    ts
        |  FROM events)
        |SELECT l.stream_id, l.v AS click_version, r.v AS purchase_version
        |FROM v l JOIN v r ON l.stream_id = r.stream_id
        |  AND l.event_type = 'click' AND r.event_type = 'purchase'
        |  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
        |ORDER BY l.stream_id, click_version, purchase_version""".stripMargin,

    // left-outer recount: every click row, with NULLs where no
    // purchase lands in the hour — the sentinel-flushed NULL set must
    // match the plain batch LEFT JOIN exactly
    "stream_interval_join_left" ->
      """WITH v AS (SELECT 'user-' || user_id AS stream_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS v,
        |    ts
        |  FROM events),
        |c AS (SELECT stream_id, v, ts FROM v WHERE event_type = 'click'),
        |p AS (SELECT stream_id, v, ts FROM v WHERE event_type = 'purchase')
        |SELECT c.stream_id, c.v AS click_version, p.v AS purchase_version
        |FROM c LEFT JOIN p ON c.stream_id = p.stream_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY c.stream_id, click_version, purchase_version""".stripMargin,

    // Gaps-and-islands recount of the streaming sessionizer. The
    // store's append path carries ms-precision timestamps (reference
    // parity: timestamp_ns = ms·10⁶), and the gated query re-scales to
    // µs (timestamp_ns div 1000) — so the oracle's time base is
    // epoch_ms·1000, giving both engines identical gap arithmetic on
    // ms-derived µs values. The stream's trailing session is still
    // OPEN when the replay ends — the stateful operator emits only
    // gap-closed sessions — so the recount drops each stream's last
    // island. Equal-timestamp ties need no tie-break: a zero gap can
    // never split a session.
    "stream_sessions" ->
      """WITH e AS (SELECT 'user-' || user_id AS stream_id,
        |    epoch_ms(ts) * 1000 AS t
        |  FROM events),
        |m AS (SELECT stream_id, t,
        |    CASE WHEN lag(t) OVER w IS NULL
        |      OR t - lag(t) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY stream_id ORDER BY t)),
        |s AS (SELECT stream_id, t,
        |    sum(new_s) OVER (PARTITION BY stream_id ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |sess AS (SELECT stream_id, sid, min(t) AS start_us, max(t) AS end_us,
        |    count(*) AS n_events
        |  FROM s GROUP BY stream_id, sid)
        |SELECT stream_id, start_us, end_us, n_events
        |FROM (SELECT sess.*, max(sid) OVER (PARTITION BY stream_id) AS mx
        |  FROM sess)
        |WHERE sid < mx
        |ORDER BY stream_id, start_us""".stripMargin,

    // Native session-window recount: plain gaps-and-islands (the
    // sentinel closes EVERY real session, so no trailing drop);
    // Spark's session_window MERGES at the exact gap boundary (an
    // event at last + gap extends the session — pinned empirically),
    // so the new-session predicate is strictly `>`; native session
    // end = last event + gap.
    "stream_sessions_native" ->
      """WITH e AS (SELECT 'user-' || user_id AS stream_id,
        |    epoch_ms(ts) * 1000 AS t
        |  FROM events),
        |m AS (SELECT stream_id, t,
        |    CASE WHEN lag(t) OVER w IS NULL
        |      OR t - lag(t) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY stream_id ORDER BY t)),
        |s AS (SELECT stream_id, t,
        |    sum(new_s) OVER (PARTITION BY stream_id ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT stream_id, min(t) AS start_us,
        |  max(t) + 1800000000 AS end_us, count(*) AS n_events
        |FROM s GROUP BY stream_id, sid
        |ORDER BY stream_id, start_us""".stripMargin,

    // Trending recount: tumbling counts restricted to windows the
    // final watermark (max event ms − 10 min) closed — window_end <=
    // watermark, the boundary EventTimeAggsSpec pins — then top-3 per
    // window (ties to the name).
    "stream_trending" ->
      """WITH m AS (SELECT epoch_ms(ts) AS ms, event_type FROM events),
        |wmk AS (SELECT max(ms) - 600000 AS w FROM m),
        |wc AS (SELECT (ms // 3600000) * 3600000 AS window_start_ms,
        |    event_type AS event_name, count(*) AS n
        |  FROM m GROUP BY 1, 2),
        |kept AS (SELECT wc.* FROM wc, wmk
        |  WHERE wc.window_start_ms + 3600000 <= wmk.w),
        |r AS (SELECT window_start_ms, event_name, n,
        |    row_number() OVER (PARTITION BY window_start_ms
        |      ORDER BY n DESC, event_name) AS rk
        |  FROM kept)
        |SELECT window_start_ms, event_name, n, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY window_start_ms, rk""".stripMargin,

    "es_scan_stream" ->
      """SELECT stream_id, stream_version, event_name, payload FROM (
        |  SELECT 'user-' || user_id AS stream_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1
        |      AS stream_version,
        |    event_type AS event_name, props AS payload
        |  FROM events WHERE user_id = 42)
        |ORDER BY stream_version LIMIT 50""".stripMargin,

    "es_scan_range" ->
      """SELECT stream_id, stream_version, event_name FROM (
        |  SELECT 'user-' || user_id AS stream_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1
        |      AS stream_version,
        |    event_type AS event_name
        |  FROM events WHERE user_id = 7)
        |WHERE stream_version BETWEEN 10 AND 25
        |ORDER BY stream_version""".stripMargin,

    "es_sver_heads" ->
      """SELECT 'user-' || user_id AS stream_id, count(*) - 1 AS head_version
        |FROM events GROUP BY user_id ORDER BY stream_id""".stripMargin,

    "es_routing_check" ->
      """SELECT count(*) AS n_total, count(*) AS n_routed_ok
        |FROM events""".stripMargin,

    "es_sub_deliver" ->
      """SELECT 'user-' || user_id AS stream_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1
        |    AS stream_version,
        |  event_type AS event_name
        |FROM events WHERE user_id IN (42, 7)
        |ORDER BY stream_id, stream_version""".stripMargin,

    "es_pseq_watermarks" ->
      s"""SELECT pid AS partition_id, count(*) - 1 AS watermark
         |FROM events JOIN (VALUES $userPidValues) m(uid, pid)
         |  ON user_id = m.uid
         |GROUP BY pid ORDER BY partition_id""".stripMargin,

    // per-(sub, partition) recount of exactly what each matcher should
    // deliver — rank (arrival index) is row_number() in partition-
    // sequence order, so the rank-weighted checksums only match if the
    // engine delivered every event, in order, with the right name at
    // each position (see the gated query's comment)
    "es_psub_deliver" ->
      s"""WITH routed AS (
         |  SELECT pid,
         |    row_number() OVER (PARTITION BY pid ORDER BY event_id) - 1
         |      AS pseq,
         |    event_type
         |  FROM events JOIN (VALUES $userPidValues) m(uid, pid)
         |    ON user_id = m.uid),
         |del AS (
         |  SELECT '*' AS sub, pid, pseq, event_type FROM routed
         |  UNION ALL
         |  SELECT 'one', pid, pseq, event_type
         |  FROM routed WHERE pid = $PsubPartition),
         |r AS (
         |  SELECT sub, pid, pseq, event_type,
         |    row_number() OVER (PARTITION BY sub, pid ORDER BY pseq) AS rk
         |  FROM del)
         |SELECT sub, pid AS partition_id,
         |  count(*) AS n_events,
         |  min(pseq) AS min_seq, max(pseq) AS max_seq,
         |  CAST(sum(pseq) AS BIGINT) AS seq_sum,
         |  CAST(sum(rk * (pseq % 1000003)) AS BIGINT) AS ord_sum,
         |  CAST(sum(rk * (CAST(('0x' || substr(md5(event_type), 1, 8))
         |    AS BIGINT) % 1000003)) AS BIGINT) AS name_sum
         |FROM r GROUP BY sub, pid
         |ORDER BY sub, partition_id""".stripMargin,

    "dedup_minhash_lsh" -> minhashLshOracle,
    "dedup_minhash_incremental" -> minhashIncrementalOracle,

    // the streaming minhash probe emits exactly the batch incremental
    // pair set (batch-division-invariant, same argument as
    // stream_dedup_simhash)
    "stream_dedup_minhash" -> minhashIncrementalOracle,
    "stream_dedup_containment_pruned" -> containmentIncrementalOracle,
    // identical restricted recount: the pruned layout changes where
    // index bytes live, never which pairs exist (shared probe core)
    "stream_dedup_minhash_pruned" -> minhashIncrementalOracle,
    "dedup_clusters" -> dedupClustersOracle,
    "dedup_pipeline" -> dedupPipelineOracle,
    "curation_quality_filter" -> qualityFilterOracle,
    "curation_quality_ensemble" -> qualityEnsembleOracle,
    "multimodal_resize" -> resizeOracle,
    "dedup_image_dhash" -> imageDHashOracle,
    // the streaming image probe (index seeded with the old split, new
    // docs streamed) emits exactly the new-touching pair set — the
    // incremental oracle verbatim, the stream_dedup_simhash discipline
    "stream_dedup_image" -> imageDHashIncrementalOracle,
    "stream_dedup_audio" -> audioEnergyIncrementalOracle,
    "stream_dedup_video" -> videoTemporalIncrementalOracle,
    "dedup_audio_energy" -> audioEnergyOracle,
    "dedup_video_temporal" -> videoTemporalOracle,
    "dedup_video_temporal_incremental" -> videoTemporalIncrementalOracle,
    "dedup_audio_energy_incremental" -> audioEnergyIncrementalOracle,
    "dedup_image_dhash_incremental" -> imageDHashIncrementalOracle,
    "curation_sample_stratified" -> stratSampleOracle,
    "curation_sample_weighted" -> weightedSampleOracle,
    "curation_pack_sequences" -> packSequencesOracle,
    "dedup_ngram_jaccard" -> ngramJaccardOracle,
    "dedup_containment" -> containmentOracle,
    "dedup_containment_lsh" -> containmentLshOracle,
    "dedup_containment_incremental" -> containmentIncrementalOracle,
    "embedding_covariance" -> covarianceOracle,
    "embedding_pca_project" -> pcaOracle,
    "curation_sample_topk" -> sampleTopkOracle,
    "text_top_ngrams" -> topNgramsOracle,
    "profile_documents" -> profileOracle,
    "profile_documents_approx" -> profileApproxOracle,
    "text_tfidf_terms" -> tfidfOracle,
    "text_inverted_index" -> invertedIndexOracle,
    "dedup_simhash" -> simhashOracle,
    "dedup_simhash_pairs" -> simhashPairsOracle,
    "dedup_simhash_pairs_128" -> simhashPairs128Oracle,
    "dedup_simhash_incremental" -> simhashIncrementalOracle,

    // the streaming probe emits exactly the batch incremental pair set
    // (batch-division-invariant; see the query comment), so the oracle
    // is the identical restricted recount
    "stream_dedup_simhash" -> simhashIncrementalOracle,
    // identical restricted recount: the pruned layout changes where
    // index bytes live, never which pairs exist
    "stream_dedup_simhash_pruned" -> simhashIncrementalOracle,
    "dedup_winnow" -> winnowOracle,
    "dedup_winnow_pairs" -> winnowPairsOracle,
    "dedup_winnow_incremental" -> winnowIncrementalOracle,

    // the streaming winnow probe emits exactly the batch incremental
    // pair set with complete shared counts (batch-division-invariant,
    // same argument as the other two streaming probes)
    "stream_dedup_winnow" -> winnowIncrementalOracle,
    "stream_dedup_winnow_pruned" -> winnowIncrementalOracle,
    "text_langid" -> langIdOracle,
    "ann_lsh_bucketed" -> annLshOracle,

    "multimodal_decode" ->
      """SELECT doc_id, 'png' AS img_format,
        |  doc_id % 1024 + 1 AS img_width,
        |  (doc_id * 7) % 768 + 1 AS img_height
        |FROM documents ORDER BY doc_id""".stripMargin,

    // ground truth for the BMP pixel decode: dims from the same doc_id
    // arithmetic the encoder uses; mean intensity = (B+G+R)/3 exactly
    // (every pixel carries the same three channel bytes, and the Spark
    // side accumulates an integer sum before one division, so both
    // quotients are the correctly-rounded double of the same real)
    "multimodal_pixels" ->
      """SELECT doc_id,
        |  CAST(doc_id % 21 + 1 AS INT) AS img_width,
        |  CAST((doc_id * 5) % 17 + 1 AS INT) AS img_height,
        |  3 AS img_channels,
        |  round((doc_id % 256 + (doc_id * 3) % 256 + (doc_id * 7) % 256) / 3.0, 6)
        |    AS mean_intensity
        |FROM documents ORDER BY doc_id""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id, 'text/plain' AS mime,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    // ground truth for the WAV decode: every header field and the
    // sample bytes come from the same doc_id arithmetic the encoder
    // uses; mean amplitude is an exact integer sum divided once, so
    // both engines produce the correctly-rounded double of the same
    // rational (8-bit mono → n_samples = data bytes, duration floors
    // via integer division on both sides)
    "multimodal_audio" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    8000 + (doc_id % 8) * 1000 AS sr,
        |    doc_id % 50 + 10 AS n
        |  FROM documents),
        |amp AS (
        |  SELECT p.doc_id,
        |    sum((p.doc_id * 13 + i * 7) % 256) AS amp_sum
        |  FROM p, generate_series(0, 65536) t(i)
        |  WHERE i < p.n
        |  GROUP BY p.doc_id)
        |SELECT p.doc_id,
        |  CAST(sr AS BIGINT) AS wav_sample_rate,
        |  CAST(8 AS BIGINT) AS wav_bits,
        |  CAST(n AS BIGINT) AS wav_n_samples,
        |  CAST(n * 1000 // sr AS BIGINT) AS wav_duration_ms,
        |  round(CAST(amp_sum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS wav_mean_amp
        |FROM p JOIN amp ON amp.doc_id = p.doc_id
        |ORDER BY p.doc_id""".stripMargin,

    // video ground truth: frame f of doc is solid BGR from the same
    // doc_id arithmetic the encoder uses; mean over the unpadded DIB
    // bytes = (B+G+R)/3 exactly (one integer sum, one division)
    "multimodal_video_frames" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST((doc_id % 3 + 1) * 4 AS INTEGER) AS w,
        |    CAST((doc_id * 3) % 5 + 2 AS INTEGER) AS h,
        |    doc_id % 4 + 2 AS nf
        |  FROM documents)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx, w AS frame_w,
        |  h AS frame_h,
        |  round(CAST((doc_id + f * 11) % 256 + (doc_id * 3 + f * 17) % 256 +
        |    (doc_id * 7 + f * 23) % 256 AS DOUBLE) / 3, 6) AS frame_mean
        |FROM p, generate_series(0, 7) t(f)
        |WHERE f < nf
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // per-frame ground truth: frame f of doc covers samples
    // [8f, 8f+8), sample i = (doc_id*13 + i*7) % 256 — the same
    // arithmetic the encoder uses, recomputed independently
    "multimodal_audio_frames" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 50 + 10 AS n FROM documents),
        |fr AS (
        |  SELECT doc_id, f FROM p, generate_series(0, 8191) t(f)
        |  WHERE f < n // 8),
        |s AS (
        |  SELECT fr.doc_id, fr.f,
        |    sum((fr.doc_id * 13 + (fr.f * 8 + j) * 7) % 256) AS amp_sum
        |  FROM fr, generate_series(0, 7) g(j)
        |  GROUP BY fr.doc_id, fr.f)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
        |  round(CAST(amp_sum AS DOUBLE) / 8, 6) AS frame_mean_amp
        |FROM s ORDER BY doc_id, frame_idx""".stripMargin,

    "eget_point" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
        |FROM events WHERE event_id = 4321""".stripMargin,

    "escan_stream" ->
      """SELECT event_id, user_id, event_type, value, props
        |FROM events WHERE user_id = 42 AND event_id BETWEEN 0 AND 1000000
        |ORDER BY event_id LIMIT 100""".stripMargin,

    "epscan_partition" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE event_id % 32 = 7 ORDER BY event_id LIMIT 100""".stripMargin,

    "esver_heads" ->
      """SELECT user_id, max(event_id) AS head, count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "epseq_heads" ->
      """SELECT event_id % 32 AS partition_id, max(event_id) AS head_seq,
        |count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY partition_id""".stripMargin,

    "stream_versions" ->
      """SELECT event_id, user_id, stream_version FROM (
        |  SELECT event_id, user_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1
        |      AS stream_version
        |  FROM events)
        |WHERE user_id < 10 ORDER BY event_id""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_topk" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem, orders, customer
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_region" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem, orders, customer, supplier, nation, region
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,

    "topk_custom" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_custkey, o_orderkey""".stripMargin,

    "running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_qty
        |FROM lineitem WHERE l_suppkey < 20
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "events_tumbling" ->
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600000 AS window_start_ms,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start_ms, event_type""".stripMargin,

    // z = (n − mean)/std with population std in the explicit
    // sqrt(E[n²]−E[n]²) form both engines compute identically; flag
    // from the rounded z.
    "events_anomaly" ->
      """WITH wc AS (
        |  SELECT (epoch_ns(ts) // 3600000000000) * 3600000 AS window_start_ms,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, avg(n) AS mean_n,
        |    sqrt(avg(n * n) - avg(n) * avg(n)) AS std_n
        |  FROM wc GROUP BY 1)
        |SELECT wc.window_start_ms, wc.event_type, wc.n,
        |  CASE WHEN st.std_n = 0 THEN 0.0
        |    ELSE round((wc.n - st.mean_n) / st.std_n, 4) END AS z,
        |  (abs(CASE WHEN st.std_n = 0 THEN 0.0
        |    ELSE round((wc.n - st.mean_n) / st.std_n, 4) END) >= 2.0)
        |    AS is_anomaly
        |FROM wc JOIN st USING (event_type)
        |ORDER BY window_start_ms, event_type""".stripMargin,

    "events_sliding" ->
      """SELECT (epoch_ns(ts) // 1800000000000 - k) * 1800000 AS window_start_ms,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events, (VALUES (0), (1)) kk(k)
        |GROUP BY 1, 2 ORDER BY window_start_ms, event_type""".stripMargin,

    "sketch_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "range_join" ->
      """WITH iv AS (
        |  SELECT i AS iid, i * 150 AS lo, i * 150 + 225 AS hi
        |  FROM generate_series(0, 99) t(i))
        |SELECT e.event_id, CAST(iv.iid AS BIGINT) AS iid
        |FROM events e JOIN iv ON e.event_id >= iv.lo AND e.event_id < iv.hi
        |ORDER BY event_id, iid""".stripMargin,

    "pivot_agg" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // forward as-of, independently recomputed: brute candidate join
    // (bounded by the tolerance) + rank — a completely different
    // algorithm than the Spark side's single window pass
    "asof_join_forward" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |c AS (SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'click'),
        |p0 AS (SELECT user_id, event_id AS p_id, ts_us AS p_ts
        |  FROM e WHERE event_type = 'purchase'),
        |p AS (SELECT user_id, p_id, p_ts FROM (
        |  SELECT p0.*, row_number() OVER (
        |    PARTITION BY user_id, p_ts ORDER BY p_id ASC) AS rn
        |  FROM p0) WHERE rn = 1),
        |j AS (
        |  SELECT c.user_id, c.event_id, c.ts_us, p.p_id,
        |    row_number() OVER (PARTITION BY c.event_id
        |      ORDER BY p.p_ts ASC, p.p_id ASC) AS rn
        |  FROM c LEFT JOIN p ON p.user_id = c.user_id
        |    AND p.p_ts >= c.ts_us AND p.p_ts - c.ts_us <= 3600000000)
        |SELECT user_id, event_id, ts_us, p_id AS asof_purchase_id
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "sketch_median" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50_exact,
        |  TRUE AS p50_approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // heavy hitters: exact top-5 recount; the Misra-Gries presence
    // flag is pinned TRUE (no false negatives above support), and so
    // is its precondition above_support (every top-k item's exact
    // frequency clears the support threshold) — a corpus where that
    // slips fails on the NAMED column instead of a nondeterministic
    // in_sketch flip
    "sketch_topk_items" ->
      """SELECT user_id, count(*) AS n, TRUE AS in_sketch,
        |  TRUE AS above_support
        |FROM events GROUP BY user_id
        |ORDER BY n DESC, user_id LIMIT 5""".stripMargin,

    "events_sessionize" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM (
        |  SELECT user_id, CASE WHEN prev_ts IS NULL
        |      OR epoch_us(ts) - prev_ts > 1800000000 THEN 1 ELSE 0 END
        |      AS new_session
        |  FROM (
        |    SELECT user_id, ts, lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_ts
        |    FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "asof_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events),
        |p AS (SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'purchase'),
        |c0 AS (SELECT user_id, event_id AS click_id, ts_us AS click_ts,
        |    value AS click_value FROM e WHERE event_type = 'click'),
        |c AS (SELECT user_id, click_id, click_ts, click_value FROM (
        |  SELECT c0.*, row_number() OVER (
        |    PARTITION BY user_id, click_ts ORDER BY click_id DESC) AS rn
        |  FROM c0) WHERE rn = 1)
        |SELECT p.user_id, p.event_id, p.ts_us,
        |  c.click_id AS asof_click_id, c.click_value AS asof_click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us >= c.click_ts
        |ORDER BY p.event_id""".stripMargin,

    "semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "rollup_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "cube_agg" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "set_ops" ->
      """WITH rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 7000),
        |recent AS (SELECT o_custkey AS k FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2000-01-01')
        |SELECT k, 'both' AS op FROM (SELECT k FROM rich INTERSECT SELECT k FROM recent)
        |UNION ALL
        |SELECT k, 'rich_only' AS op FROM (SELECT k FROM rich EXCEPT SELECT k FROM recent)
        |ORDER BY op, k""".stripMargin,

    "distinct_agg" ->
      """SELECT user_id, count(DISTINCT event_type) AS n_types,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS dups
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id, n_chars, length(text) AS len,
        |  length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      s"""SELECT doc_id,
         |  CAST(n_tokens AS DOUBLE) AS n_tokens,
         |  CAST(n_stop AS DOUBLE) AS n_stop,
         |  CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
         |  CAST(n_chars2 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_tok_len
         |FROM (SELECT doc_id,
         |    length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
         |    length(replace(text, ' ', '')) AS n_chars2,
         |    ${sqlTokenSetCount(graft.ops.Curation.Stopwords)} AS n_stop
         |  FROM (SELECT doc_id, text,
         |    regexp_replace(' ' || text || ' ', ' ', '  ', 'g') AS d2
         |    FROM documents) doc2) feats ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Mirror of BpeTrain pair statistics: same whitespace word split
    // with empties dropped, same frequency weighting, same
    // deterministic (count desc, pair asc) top-20. Integer counts
    // only — no float noise anywhere.
    "text_bpe_encode" -> bpeEncodeOracle,
    // the vocab-join swap is result-identical by construction — one
    // oracle serves both encode shapes
    "text_bpe_encode_vocab" -> bpeEncodeOracle,
    // the persisted-store round trip (train → publish → reload →
    // encode) must return exactly what the in-session encode returns
    // — same oracle, verbatim
    "text_bpe_persistent" -> bpeEncodeOracle,
    // streaming encode with the persisted tokenizer: per-doc encode is
    // a pure function of (text, frozen merges) — batch-division
    // invariant — so the oracle is the batch encode restricted to the
    // streamed isNew docs
    "stream_bpe_encode" -> bpeEncodeStreamOracle,
    // the fold apply (production-depth shape) is result-identical by
    // the shared merge rule — same oracle, verbatim
    "text_bpe_encode_fold" -> bpeEncodeOracle,

    "bpe_pair_stats" ->
      """WITH w AS (SELECT t AS word, count(*) AS c FROM (
        |    SELECT unnest(list_filter(string_split(text, ' '),
        |      x -> x <> '')) AS t
        |    FROM documents) GROUP BY t),
        |p AS (SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b,
        |    CAST(sum(c) AS BIGINT) AS cnt
        |  FROM w, generate_series(1, 64) g(i) WHERE i < length(word)
        |  GROUP BY 1, 2)
        |SELECT a, b, cnt FROM p ORDER BY cnt DESC, a, b LIMIT 20""".stripMargin,

    // Mirror of LanguageModel.bigramLogProb (k=0.5): same whitespace
    // tokenization with empties dropped, same add-k bigram formula;
    // counts/V/k are exact integers so only ln() (≤1 ulp) and the
    // per-doc summation order differ per engine — hence round(4).
    "text_lm_logprob" -> lmLogProbOracle,
    "text_ppl_buckets" -> pplBucketsOracle,
    "text_entropy" -> entropyOracle,
    "text_classifier" -> classifierOracle,
    "embedding_random_projection" -> randomProjectionOracle,

    // SQ8: the quantizeOracle's exact code derivation (same flat/mx
    // CTEs), codes assembled per vector in dimension order, then the
    // ann_cosine_topk scoring chain over the code lists — the
    // per-vector scale cancels in the cosine, exactly like the engine
    "ann_sq8_topk" ->
      """WITH flat AS (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, generate_series(1, 64) t(i)),
        |mx AS (SELECT vec_id, max(abs(v)) AS abs_max FROM flat GROUP BY vec_id),
        |cd AS (
        |  SELECT f.vec_id,
        |    list(CASE WHEN abs_max > 0
        |      THEN greatest(-127.0, least(127.0, floor(v / (abs_max / 127.0) + 0.5)))
        |      ELSE 0.0 END ORDER BY i) AS c
        |  FROM flat f JOIN mx USING (vec_id) GROUP BY f.vec_id),
        |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |scored AS (
        |  SELECT q.qid, cd.vec_id,
        |    round(list_dot_product(qe, c) /
        |      (sqrt(list_dot_product(qe, qe)) *
        |       sqrt(list_dot_product(c, c))), 6) AS cosine
        |  FROM cd, q WHERE cd.vec_id != q.qid),
        |ranked AS (
        |  SELECT qid, vec_id, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
        |  FROM scored)
        |SELECT qid, vec_id, cosine, rk FROM ranked WHERE rk <= 5
        |ORDER BY qid, rk""".stripMargin,

    "ann_cosine_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    round(list_dot_product(qe, CAST(e.embedding AS DOUBLE[])) /
        |      (sqrt(list_dot_product(qe, qe)) *
        |       sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                             CAST(e.embedding AS DOUBLE[])))), 6) AS cosine
        |  FROM embeddings e, q WHERE e.vec_id != q.qid),
        |ranked AS (
        |  SELECT qid, vec_id, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
        |  FROM scored)
        |SELECT qid, vec_id, cosine, rk FROM ranked WHERE rk <= 5
        |ORDER BY qid, rk""".stripMargin
  )
}
