package graft

import org.scalatest.funsuite.AnyFunSuite

/** The measuring mains share one session recipe; the bench's own conf
  * must stay exactly what its records were measured on.
  */
class BenchSessionSpec extends AnyFunSuite {

  test("the bench session conf is unchanged key for key") {
    assert(Bench.sessionConf("7").toMap == Map(
      "spark.master" -> "local[7]",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.ui.enabled" -> "false"))
    assert(Bench.sessionConf("7").map(_._1).distinct.size == 7)
  }
}
