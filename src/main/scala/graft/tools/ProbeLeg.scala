package graft.tools

/** Off-load leg probe: `runMain graft.tools.ProbeLeg q1 q2 …` times
  * each named gated query at base and 10× (min-of-3 warm, idle machine)
  * on the bench's own session ([[graft.Bench.session]]), so the settled
  * levels in `bench-baselines.json` come from the session they
  * adjudicate.
  */
object ProbeLeg {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProbeLeg <query> [<query> ...]")
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val big = ScaleGen.ensure10x(spark, sf)
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def leg(name: String, dir: String): Double = time {
      graft.SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
    }
    def load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    args.foreach { n =>
      var bMin = Double.MaxValue
      var xMin = Double.MaxValue
      for (round <- 1 to 3) {
        val b = leg(n, sf); val x = leg(n, big)
        bMin = math.min(bMin, b); xMin = math.min(xMin, x)
        println(f"$n round $round: base $b%.2f s | 10x $x%.2f s | " +
          f"ratio ${x / b}%.2f | load $load%.1f")
      }
      println(f"$n MIN: base $bMin%.2f | 10x $xMin%.2f | " +
        f"ratio ${xMin / bMin}%.2f")
    }
    spark.stop()
  }
}
