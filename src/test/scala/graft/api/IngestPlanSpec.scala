package graft.api

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Bulk ingest moves the event payload through exactly ONE shuffle
  * exchange (the hash(partition_id) repartition that both windows and
  * the partitioned write reuse), with the heads joined from the inline
  * overlay or from a parquet layer, both broadcast: the executed plans
  * of every command `ingest` runs are captured and their
  * payload-carrying shuffles counted.
  */
class IngestPlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** executed plans of the commands `body` ran, in order */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val marker = s"ingest_plan_marker_${System.nanoTime()}"
    val seen = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) seen.countDown()
        else plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener bus is asynchronous: once the marker action is
      // seen, every command posted before it has been seen too
      spark.range(1).toDF(marker).collect()
      assert(seen.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  private def ops(plans: Seq[SparkPlan]): Seq[SparkPlan] =
    plans.flatMap(graft.PlanTestHelpers.flattenPlan)

  private def payloadShuffles(plans: Seq[SparkPlan]): Int =
    ops(plans).count {
      case s: ShuffleExchangeExec => s.output.exists(_.name == "payload")
      case _ => false
    }

  private def headScans(plans: Seq[SparkPlan]): Int =
    ops(plans).count {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.toString.contains("/_heads/"))
      case _ => false
    }

  private def batch(tag: String): DataFrame = {
    import spark.implicits._
    (0 until 64).map(i => (s"ip-$tag-${i % 16}", "E", i.toLong))
      .toDF("stream_id", "event_name", "arrival")
  }

  test("broadcast heads: the payload crosses one shuffle exchange") {
    val es = EventStore.open(spark,
      Files.createTempDirectory("graft-ingest-plan-").toString, 8)
    es.ingest(batch("a"), "arrival")
    val plans = executedPlans(es.ingest(batch("a"), "arrival"))
    assert(es.sver("ip-a-3").contains(7L))
    assert(headScans(plans) == 0, "inline heads are joined from the manifest")
    assert(payloadShuffles(plans) == 1,
      plans.map(_.treeString).mkString("\n"))
  }

  test("parquet heads: the payload crosses one shuffle exchange") {
    val es = EventStore.open(spark,
      Files.createTempDirectory("graft-ingest-plan-layered-").toString, 8,
      maxInlineHeads = 0)
    es.ingest(batch("b"), "arrival") // spills the heads to a parquet layer
    assert(es.manifest.streamHeads.isEmpty)
    val plans = executedPlans(es.ingest(batch("b"), "arrival"))
    assert(es.sver("ip-b-3").contains(7L))
    assert(headScans(plans) > 0, "the head join reads the parquet layer")
    assert(payloadShuffles(plans) == 1,
      plans.map(_.treeString).mkString("\n"))
  }
}
