package graft.plans

import java.nio.file.Files

import graft.api.EventStore
import graft.core.{EventInput, Ids}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class PartitionPruningSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("event_id literal filter gains partition_id pruning") {
    spark.experimental.extraOptimizations =
      Seq(InjectEventIdPartitionPruning())
    spark.conf.set("spark.graft.numPartitions", "8")
    try {
      val es = EventStore.open(
        spark, tempDir("graft-prune-").toString, 8)
      val ids = (1 to 20).map { i =>
        es.append(EventInput(s"prune-$i", "E")).toOption.get.eventId
      }
      val target = ids.head
      val expectedPid = Ids.partitionIdForEventId(
        java.util.UUID.fromString(target), 8)

      // raw DataFrame query on the table — NOT via EventStore.get
      val df = spark.read
        .option("basePath", s"${es.root}/events")
        .parquet(s"${es.root}/events")
        .where(col("event_id") === target)

      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains(s"partition_id#") || plan.contains("PartitionFilters"),
        plan)
      assert(plan.contains(s"(partition_id"), plan)
      assert(plan.contains(s"= $expectedPid)"), plan)

      val rows = df.collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[String]("event_id") == target)
    } finally {
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("rule is inert for non-uuid literals and multi-id predicates") {
    spark.experimental.extraOptimizations =
      Seq(InjectEventIdPartitionPruning())
    try {
      val es = EventStore.open(
        spark, tempDir("graft-prune2-").toString, 8)
      es.append(EventInput("a", "E"))
      val df = spark.read
        .option("basePath", s"${es.root}/events")
        .parquet(s"${es.root}/events")
        .where(col("event_id") === "not-a-uuid")
      assert(df.collect().isEmpty) // no crash, no wrong pruning
    } finally {
      spark.experimental.extraOptimizations = Nil
    }
  }
}
