package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload run observed.
  *
  * @param e2e       end-to-end metrics, measured with tracing off
  * @param perLayer  per-layer metrics from the traced phase (trace runs only)
  * @param samples   sample count behind every timing, by metric
  * @param problems  failed correctness checks; any one fails the run
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    e2e: Map[String, Double],
    perLayer: Map[String, Double],
    samples: Map[String, Int],
    generator: Seq[(String, Any)],
    problems: Seq[String])

/** Settings every workload receives. */
final case class RunArgs(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, out: Path) {
  val runNs: Long = seconds * 1000000000L
}

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --out <dir>`: runs one workload and prints, as its last
  * stdout line, `{"correct", "attempted", "failed", "metrics"}`. The line
  * before it is the full record: run context, generator properties,
  * sample counts and (traced) per-layer metrics; the same record is
  * written under `--out`.
  */
object Main {

  /** End-to-end metrics, each defined on every workload (see README). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "work_per_s" -> "1/s",
    "write_mean_ms" -> "ms", "read_mean_ms" -> "ms",
    "space_amp" -> "x")

  val Workloads: Map[String, (SparkSession, RunArgs) => Outcome] = Map(
    "serve_mixed" -> ServeMixed.run,
    "bulk_dedup" -> BulkDedup.run)

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val args = RunArgs(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath)
    val body = Workloads.getOrElse(args.workload, {
      System.err.println(s"unknown workload ${args.workload}; one of ${Workloads.keys.mkString(", ")}")
      sys.exit(2)
    })
    Files.createDirectories(args.work)
    Files.createDirectories(args.out)
    val load0 = loadAvg()
    val steal0 = stealS()
    val spark = session(args.work)
    log(s"session up; running ${args.workload}")
    val code =
      try {
        val o = body(spark, args)
        report(spark, args, o, load0, steal0)
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          1
      } finally {
        spark.stop()
        graft.core.Fs.deleteRecursively(args.work.toFile)
      }
    System.out.flush()
    sys.exit(code)
  }

  val cpus: Int = Runtime.getRuntime.availableProcessors()

  private val t0 = System.nanoTime()
  /** Progress on stderr, with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.1f s] $msg")

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // bounded job and query history, so the live heap a run reports is
      // the program's and not a function of how many jobs the run made
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def loadAvg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case _: Exception => "" }

  /** CPU time the hypervisor gave to others while this machine wanted
    * it, in seconds since boot (Linux `/proc/stat`), or -1 if unknown.
    */
  private def stealS(): Double =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toDouble / 100.0 else -1.0
    } catch { case _: Exception => -1.0 }

  private def report(spark: SparkSession, args: RunArgs, o: Outcome, load0: String,
      steal0: Double): Int = {
    val correct = o.problems.isEmpty
    o.problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    // a traced run prints every per-layer metric; one the workload does
    // not exercise reads 0 (its sample count in the record is 0 too)
    val metrics =
      if (!correct) Nil
      else if (args.trace) PerLayer.all.map { case (m, unit) =>
        m -> Map("value" -> o.perLayer.getOrElse(m, 0.0), "unit" -> unit)
      }
      else EndToEnd.map { case (m, unit) => m -> Map("value" -> o.e2e(m), "unit" -> unit) }
    val record = Seq(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "correct" -> correct, "attempted" -> o.attempted,
      "failed" -> o.failed, "problems" -> o.problems,
      "end_to_end" -> o.e2e.toSeq.sortBy(_._1),
      "per_layer" -> o.perLayer.toSeq.sortBy(_._1),
      "samples" -> o.samples.toSeq.sortBy(_._1),
      "generator" -> o.generator,
      "context" -> Seq(
        "nproc" -> cpus,
        "loadavg_before" -> load0, "loadavg_after" -> loadAvg(),
        "cpu_steal_s" -> (if (steal0 < 0) -1.0 else stealS() - steal0),
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "session_conf" -> spark.conf.getAll.toSeq.sortBy(_._1)))
    val recordLine = Json.obj(record.map { case (k, v) => k -> tuplesToMap(v) })
    Files.writeString(args.out.resolve(
      s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json"), recordLine + "\n")
    println(recordLine)
    println(Json.obj(Seq("correct" -> correct, "attempted" -> o.attempted,
      "failed" -> o.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
    if (correct) 0 else 1
  }

  /** Seq-of-pairs values render as JSON objects, in order. */
  private def tuplesToMap(v: Any): Any = v match {
    case xs: Seq[_] if xs.nonEmpty && xs.forall {
      case (_: String, _) => true
      case _              => false
    } =>
      scala.collection.immutable.ListMap(xs.map { case (k: String, x) => k -> tuplesToMap(x) }: _*)
    case other => other
  }
}
