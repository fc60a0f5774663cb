package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The max(stream_version) → manifest head-lookup rewrite: fires only
  * on provably-clamp-shaped filters over a registered event log, and
  * always returns exactly what the scan would.
  */
class HeadLookupRewriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private lazy val es = {
    val store = graft.api.EventStore.open(spark,
      java.nio.file.Files.createTempDirectory("graft-hlr-").toString, 8)
    (1 to 5).foreach(_ => store.append(graft.core.EventInput("hl-a", "E")))
    (1 to 2).foreach(_ => store.append(graft.core.EventInput("hl-b", "E")))
    store
  }

  private def maxVer(df: org.apache.spark.sql.DataFrame) =
    df.agg(max(col("stream_version")).as("head"))

  private def usesScan(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().exists {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _ => false
    }

  test("clamp-only filter answers from the manifest, no scan") {
    val q = maxVer(es.events().where(col("stream_id") === "hl-a"))
    assert(!usesScan(q), q.queryExecution.optimizedPlan.toString)
    assert(q.collect().head.getLong(0) == 4L)
    assert(q.collect().head.getLong(0) == es.sver("hl-a").get)
  }

  test("absent stream rewrites to the NULL the scan would produce") {
    val q = maxVer(es.events().where(col("stream_id") === "no-such"))
    assert(!usesScan(q))
    assert(q.collect().head.isNullAt(0))
  }

  test("explicit consistent partition_key still rewrites") {
    val pk = graft.core.Ids.partitionKeyForStream("hl-b")
    val q = maxVer(es.events()
      .where(col("stream_id") === "hl-b" && col("partition_key") === pk.toString))
    assert(!usesScan(q))
    assert(q.collect().head.getLong(0) == 1L)
  }

  test("bare stream_id aggregates across ALL partition keys, like the scan") {
    // route the same stream under a second, non-default key with a
    // HIGHER version than the default key's copy — a rewrite that only
    // consulted the default key would return the wrong max
    val customPk = java.util.UUID.randomUUID()
    (1 to 9).foreach(_ =>
      es.append(graft.core.EventInput("hl-multi", "E"), Some(customPk)))
    es.append(graft.core.EventInput("hl-multi", "E")) // default key, v0
    val q = maxVer(es.events().where(col("stream_id") === "hl-multi"))
    assert(q.collect().head.getLong(0) == 8L)
    // and with the explicit key, only that key's head answers
    val qk = maxVer(es.events().where(col("stream_id") === "hl-multi" &&
      col("partition_key") === customPk.toString))
    assert(!usesScan(qk))
    assert(qk.collect().head.getLong(0) == 8L)
    val qd = maxVer(es.events().where(col("stream_id") === "hl-multi" &&
      col("partition_key") === graft.core.Ids.partitionKeyForStream("hl-multi").toString))
    assert(qd.collect().head.getLong(0) == 0L)
  }

  test("extra user predicates disable the rewrite (and scan agrees)") {
    val q = maxVer(es.events()
      .where(col("stream_id") === "hl-a" && col("event_name") === "E"))
    assert(usesScan(q))
    assert(q.collect().head.getLong(0) == 4L)
  }

  test("a user-narrowed sequence bound disables the rewrite") {
    val q = maxVer(es.events()
      .where(col("stream_id") === "hl-a" && col("partition_sequence") <= 1))
    assert(usesScan(q))
    // the narrowed scan sees fewer events — the head would be WRONG here
    assert(q.collect().head.getLong(0) < es.sver("hl-a").get)
  }

  test("hot path: repeated rewrites run no manifest load and no Spark job") {
    // layered store: a tiny inline budget forces heads into parquet
    // deltas, the expensive path the rule used to aggregate inline
    val store = graft.api.EventStore.open(spark,
      java.nio.file.Files.createTempDirectory("graft-hlr-hot-").toString, 8,
      maxInlineHeads = 4)
    (1 to 12).foreach(i => store.append(graft.core.EventInput(s"hp-$i", "E")))

    def q() = maxVer(store.events().where(col("stream_id") === "hp-3"))
    // warm pass: may read layers / run the layer aggregate once
    assert(!usesScan(q()))
    assert(q().collect().head.getLong(0) == 0L)

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val loads0 = graft.storage.Manifest.loads.get()
    try {
      val df = q()
      // forces analysis + optimization, i.e. the rule itself, without
      // executing anything — any I/O now is the rule's own
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collectLeaves().forall(
        !_.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]))
      assert(df.collect().head.getLong(0) == 0L)
      assert(graft.storage.Manifest.loads.get() == loads0,
        "hot-path rewrite must not Manifest.load")
      Thread.sleep(500) // listener bus is async; let any job event land
      assert(jobs.get() == 0, "hot-path rewrite must not run Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("disk path: a handle behind disk answers like the scan, with no Spark job") {
    val root = java.nio.file.Files.createTempDirectory("graft-hlr-disk-").toString
    val writer = graft.api.EventStore.open(spark, root, 8, maxInlineHeads = 4)
    (1 to 12).foreach(i => writer.append(graft.core.EventInput(s"hd-$i", "E")))
    // the same stream under a second key, so one stream has two heads
    val customPk = java.util.UUID.randomUUID()
    (1 to 3).foreach(_ =>
      writer.append(graft.core.EventInput("hd-2", "E"), Some(customPk)))
    // the registry now holds this handle; the writer then moves disk
    // past it, so the rewrite cannot trust its memory and reads disk
    val stale = graft.api.EventStore.open(spark, root, 8, maxInlineHeads = 4)
    (1 to 5).foreach(i => writer.append(graft.core.EventInput(s"hd-$i", "E")))
    assert(stale.manifest.version < writer.manifest.version)
    assert(writer.manifest.headsDeltas.nonEmpty || writer.manifest.headsBase > 0)

    val sids = (1 to 12).map(i => s"hd-$i") :+ "hd-absent"
    // the writer's clamp is current; an extra predicate keeps the scan
    def rewritten(sid: String) =
      maxVer(writer.events().where(col("stream_id") === sid))
    def scanned(sid: String) = maxVer(writer.events()
      .where(col("stream_id") === sid && col("event_name") === "E"))
    val expected = sids.map { sid =>
      assert(usesScan(scanned(sid)))
      val r = scanned(sid).collect().head
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    assert(expected(1).contains(2L)) // hd-2: max over both keys

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val loads0 = graft.storage.Manifest.loads.get()
    try {
      val got = sids.map { sid =>
        val df = rewritten(sid)
        assert(!usesScan(df), sid)
        val r = df.collect().head
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
      assert(got == expected)
      assert(graft.storage.Manifest.loads.get() > loads0,
        "the stale handle must send the rewrite to disk")
      Thread.sleep(500) // listener bus is async; let any job event land
      assert(jobs.get() == 0, "the disk-path rewrite must not run Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("unregistered parquet with the same columns is untouched") {
    // copy the files elsewhere: same schema, no registered store
    val other = java.nio.file.Files.createTempDirectory("graft-hlr-copy-").toString
    es.events().write.parquet(s"$other/events-copy")
    val q = maxVer(spark.read.parquet(s"$other/events-copy")
      .where(col("stream_id") === "hl-a"))
    assert(usesScan(q))
    assert(q.collect().head.getLong(0) == 4L)
  }
}
