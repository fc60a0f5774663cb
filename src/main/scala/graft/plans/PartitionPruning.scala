package graft.plans

import graft.core.Ids
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: EGET routing for anyone querying the event-log
  * table directly (raw SQL / DataFrame, not via `EventStore.get`).
  *
  * A filter pinning `event_id` to a literal UUID implies the event
  * lives in exactly one partition — the 16-bit hash embedded at bits
  * 46-61 of the UUID (`id.rs:50-53`). The rule conjoins
  * `partition_id = hash % numPartitions`, which Catalyst then turns
  * into directory-partition pruning on the partitioned parquet table
  * (the same "route by the hash inside the id, no global index" trick
  * as `read.rs:756-767`).
  *
  * numPartitions resolves from the store REGISTRY when the scanned
  * relation is a registered event log (path identity — the store's
  * true geometry, no guessing), else from an explicitly-set
  * `spark.graft.numPartitions` for raw-directory use. With neither,
  * the rule is inert: a defaulted value could disagree with the
  * numPartitions the store was opened with and the injected conjunct
  * would silently filter out the matching row.
  */
case class InjectEventIdPartitionPruning() extends Rule[LogicalPlan] {

  private def confNumPartitions: Option[Int] =
    Option(conf.getConfString("spark.graft.numPartitions", null))
      .flatMap(_.toIntOption).filter(_ > 0)

  private def numPartitionsFor(child: LogicalPlan): Option[Int] = {
    val registered = child match {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, _, _, _) =>
        graft.api.EventStore.registeredFor(fs).map(_.numPartitions)
      case _ => None
    }
    registered.orElse(confNumPartitions)
  }

  private val eventLogCols =
    Seq("event_id", "partition_id", "partition_sequence", "stream_id", "stream_version")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child)
        if eventLogCols.forall(c => child.output.exists(_.name == c)) &&
          !mentionsPartitionId(cond) =>
      numPartitionsFor(child) match {
        case None => f
        case Some(np) =>
          // ONLY top-level conjuncts imply the equality for every
          // surviving row — an event_id equality under OR/NOT must not
          // pin the scan
          val pids = conjuncts(cond).flatMap(eventIdLiteral)
            .flatMap(partitionIdOf(_, np)).distinct
          pids match {
            case Seq(pid) =>
              val pidAttr = child.output.find(_.name == "partition_id").get
              Filter(And(cond, EqualTo(pidAttr, Literal(pid, IntegerType))), child)
            case _ => f
          }
      }
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  private def mentionsPartitionId(cond: Expression): Boolean =
    cond.references.exists(_.name == "partition_id")

  private def eventIdLiteral(e: Expression): Option[UTF8String] = e match {
    case EqualTo(a, Literal(v: UTF8String, StringType))
        if a.references.size == 1 && a.references.head.name == "event_id" => Some(v)
    case EqualTo(Literal(v: UTF8String, StringType), a)
        if a.references.size == 1 && a.references.head.name == "event_id" => Some(v)
    case _ => None
  }

  private def partitionIdOf(v: UTF8String, np: Int): Option[Int] =
    try {
      val u = java.util.UUID.fromString(v.toString)
      Some(Ids.partitionIdFor(Ids.partitionHash(u), np))
    } catch { case _: IllegalArgumentException => None }
}

/** Registers graft's optimizer rules and SQL functions in a session:
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  * The top-k planner strategy is not here: [[TopK.topKPerKey]]
  * registers it in whatever session it runs in, so a session built
  * with these extensions holds it once, like any other.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => InjectEventIdPartitionPruning())
    e.injectOptimizerRule(_ => HeadLookupRewrite())
    e.injectFunction(graft.functions.UuidPartitionHashDescriptor.descriptor)
    e.injectFunction(graft.functions.UuidTimestampMsDescriptor.descriptor)
  }
}
