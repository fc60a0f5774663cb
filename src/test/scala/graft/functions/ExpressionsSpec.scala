package graft.functions

import graft.core.Ids
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class ExpressionsSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("uuid_partition_hash matches Ids.partitionHash, codegen path") {
    import spark.implicits._
    val ids = (0 until 500).map { i =>
      Ids.uuidV7WithPartitionHash(i * 131 % 65536, 1700000000000L + i, i % 4096,
        i.toLong * 9973).toString
    }
    val df = ids.toDF("event_id")
      .withColumn("h", functions.uuid_partition_hash(col("event_id")))
      .withColumn("ts", functions.uuid_timestamp_ms(col("event_id")))
    val rows = df.collect()
    rows.zip(ids).foreach { case (r, id) =>
      assert(r.getAs[Int]("h") == Ids.partitionHash(java.util.UUID.fromString(id)))
      assert(r.getAs[Long]("ts") == Ids.timestampMs(java.util.UUID.fromString(id)))
    }
  }

  test("expression stays inside WholeStageCodegen (no UDF barrier)") {
    import spark.implicits._
    // local Seqs plan as LocalTableScan (no codegen at all), so stage
    // the data through parquet to get a real scan pipeline
    val dir = tempDir("graft-expr-").toString
    (1 to 100).map(_ => Ids.newEventId(7).toString).toDF("event_id")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .withColumn("h", functions.uuid_partition_hash(col("event_id")))
      .filter(col("h") >= 0)
    val exec = df.queryExecution.executedPlan
    val hasCodegenStage = exec.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]) ||
      exec.toString.contains("*(")
    assert(hasCodegenStage, exec.toString)
    assert(!exec.toString.contains("ScalaUDF"))
    assert(df.count() == 100)
  }

  test("SQL registration works") {
    import spark.implicits._
    functions.register(spark)
    Seq(Ids.uuidV7WithPartitionHash(12345, 1700000000123L, 1, 2).toString)
      .toDF("id").createOrReplaceTempView("ids_probe")
    val r = spark.sql(
      "SELECT uuid_partition_hash(id) AS h, uuid_timestamp_ms(id) AS ts FROM ids_probe")
      .collect()(0)
    assert(r.getAs[Int]("h") == 12345)
    assert(r.getAs[Long]("ts") == 1700000000123L)
  }

  test("partition id helper routes like the engine") {
    import spark.implicits._
    val sids = (0 until 100).map(i => s"user-$i")
    val df = sids.map(s => (s, Ids.partitionKeyForStream(s).toString))
      .toDF("stream_id", "pk")
      .withColumn("pid", functions.uuid_partition_id(col("pk"), 32))
    df.collect().foreach { r =>
      assert(r.getAs[Int]("pid") ==
        Ids.partitionIdForStream(r.getAs[String]("stream_id"), 32))
    }
  }
}
