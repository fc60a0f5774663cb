package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Proves the spark.sql.extensions registration path: a session built
  * with GraftExtensions gets the optimizer rule and the SQL functions
  * without any per-session wiring. The top-k planner strategy is
  * registered by `TopK.topKPerKey` in any session, so such a session
  * plans the top-k exec and holds the strategy once.
  */
class GraftExtensionsSpec extends AnyFunSuite with graft.TempDirs {

  /** `body` on a new session built with GraftExtensions; the caller's
    * active and default sessions are restored afterwards.
    */
  private def withExtensionsSession(body: SparkSession => Unit): Unit = {
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try body(SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-probe")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("a session built with GraftExtensions has rule, strategy, functions") {
    withExtensionsSession { spark =>
      // SQL function injection
      val h = spark.sql(
        "SELECT uuid_partition_hash('019ff476-1879-7000-a244-1e3d4ec26e52') AS h")
        .collect()(0).getInt(0)
      assert(h == graft.core.Ids.partitionHash(
        java.util.UUID.fromString("019ff476-1879-7000-a244-1e3d4ec26e52")))

      // top-k strategy: custom top-k plans through the exec
      val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      val custom = TopK.topKPerKey(orders, Seq("o_custkey"),
        Seq(org.apache.spark.sql.functions.col("o_orderkey").asc), 2)
      assert(custom.queryExecution.executedPlan.toString.contains("TopKPerKey"))
      assert(custom.count() > 0)

      // optimizer rule injection: event_id literal filter gets routed.
      // (numPartitions config default 32 — just checking the conjunct
      // appears; full behavior covered in PartitionPruningSpec.)
      val es = graft.api.EventStore.open(spark,
        tempDir("graft-ext-").toString, 32)
      val id = es.append(graft.core.EventInput("ext-s", "E")).toOption.get.eventId
      val df = spark.read
        .option("basePath", s"${es.root}/events")
        .parquet(s"${es.root}/events")
        .where(org.apache.spark.sql.functions.col("event_id") === id)
      assert(df.queryExecution.optimizedPlan.toString.contains("partition_id"))
      assert(df.count() == 1)
    }
  }

  test("a GraftExtensions session holds the top-k strategy once after topKPerKey") {
    withExtensionsSession { spark =>
      import org.apache.spark.sql.functions.col
      val rows = spark.range(0, 100).select((col("id") % 7).as("k"), col("id"))
      TopK.topKPerKey(rows, Seq("k"), Seq(col("id").asc), 2).count()
      assert(spark.sessionState.planner.strategies.count(_ == TopKStrategy) == 1)
    }
  }
}
