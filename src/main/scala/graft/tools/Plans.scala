package graft.tools

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.util.QueryExecutionListener

/** Formatted physical plans of named SparkEntry queries (the evidence
  * behind PLANS.md and `plans/`), on the bench's own session
  * ([[graft.Bench.session]]). For each name it prints, in order:
  *
  *   - `executed`: every command Spark ran while the name's DataFrame
  *     was built — the store ingest inside `StoreProvider.storeFor`,
  *     index builds, localCheckpoints, foreachBatch bodies;
  *   - `micro-batch`: the last micro-batch plan of every streaming
  *     query started meanwhile (stateful operators, state format);
  *   - `query`: the returned DataFrame's own plan.
  *
  * Usage: `runMain graft.tools.Plans q1 q2 ...` (no names: every
  * query). Reads `SPARK_GRAFT_SF_DIR` (default sf0.01).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    // every executed command; the listener bus is asynchronous, so a
    // marker action closes each capture: once it is seen, every command
    // posted before it has been seen too
    val executed = new ConcurrentLinkedQueue[String]()
    @volatile var marker: (String, CountDownLatch) = ("", new CountDownLatch(0))
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker._1)) marker._2.countDown()
        else executed.add(funcName + "\n" + qe.explainString(FormattedMode))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    def drain(): Seq[String] = {
      marker = (s"plans_marker_${System.nanoTime()}", new CountDownLatch(1))
      spark.range(1).toDF(marker._1).collect()
      if (!marker._2.await(60, TimeUnit.SECONDS))
        System.err.println("[plans] listener bus did not drain in 60 s")
      val out = executed.asScala.toSeq
      executed.clear()
      out
    }
    // onQueryStarted runs synchronously inside start(), while the
    // query is still registered
    val streams = new ConcurrentLinkedQueue[StreamingQuery]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        Option(spark.streams.get(e.id)).foreach(streams.add)
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    val names =
      if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      drain()
      streams.clear()
      val df = graft.SparkEntry.queries(n)(spark, sf)
      println(s"\n===== $n =====")
      drain().foreach(p => println(s"----- executed: $p"))
      streams.asScala.foreach {
        case w: StreamingQueryWrapper =>
          Option(w.streamingQuery.lastExecution).foreach { ie =>
            println(s"----- micro-batch\n${ie.explainString(FormattedMode)}")
          }
        case _ =>
      }
      println(s"----- query\n${df.queryExecution.explainString(FormattedMode)}")
    }
    spark.stop()
  }
}
