package graft.plans

import graft.api.EventStore
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, AttributeReference, EqualTo, Expression, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SURVEY §4's head-lookup rewrite: `SELECT max(stream_version) FROM
  * <event log> WHERE stream_id = 's' [AND partition_key = 'k'] AND
  * <watermark clamp>` answers from the manifest's O(1) head state —
  * no scan at all (the reference serves ESVER from its live index,
  * `writer_thread_pool.rs:188-267`).
  *
  * Soundness rules (each failure keeps the original plan):
  *   - the relation must be a REGISTERED event-log store (matched by
  *     its events directory, not by column names);
  *   - conjuncts must be exactly: `stream_id = lit`, optionally
  *     `partition_key = lit` / `partition_id = lit` consistent with the
  *     key's routing, plus `partition_sequence <= bound` conjuncts
  *     whose bound AT THE STREAM'S PARTITION is >= the current
  *     watermark (i.e. the filter is the visibility clamp, not a
  *     user's narrower range — a narrower bound would make the head
  *     value wrong);
  *   - the aggregate is global and computes only max(stream_version).
  */
case class HeadLookupRewrite() extends Rule[LogicalPlan] {

  /** Filter over an event-log relation, optionally under the
    * column-pruning Project the optimizer inserts.
    */
  private object ClampedScan {
    def unapply(p: LogicalPlan): Option[(Expression, HadoopFsRelation)] = p match {
      case Filter(cond, LogicalRelation(fs: HadoopFsRelation, _, _, _, _)) =>
        Some((cond, fs))
      case Project(projList,
          Filter(cond, LogicalRelation(fs: HadoopFsRelation, _, _, _, _)))
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        Some((cond, fs))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(Nil, aggExprs, ClampedScan(cond, fs), _)
        if isMaxStreamVersionOnly(aggExprs, agg.child) =>
      EventStore.registeredFor(fs) match {
        case None      => agg
        case Some(reg) => rewrite(agg, cond, reg).getOrElse(agg)
      }
  }

  /** exactly one aggregate output: max(stream_version) (any alias) */
  private def isMaxStreamVersionOnly(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
      rel: LogicalPlan): Boolean =
    exprs.sizeIs == 1 && (exprs.head match {
      case Alias(AggregateExpression(Max(a: AttributeReference), _, false, None, _), _) =>
        a.name == "stream_version"
      case _ => false
    })

  private def rewrite(
      agg: Aggregate,
      cond: Expression,
      reg: EventStore.RegisteredStore): Option[LogicalPlan] = {
    var streamId: Option[String] = None
    var partitionKey: Option[String] = None
    var partitionId: Option[Int] = None
    val seqBounds = Seq.newBuilder[Expression]

    def attrName(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case _                     => None
    }

    conjuncts(cond).foreach {
      case EqualTo(a, Literal(v: UTF8String, StringType)) if attrName(a).contains("stream_id") =>
        if (streamId.isDefined) return None
        streamId = Some(v.toString)
      case EqualTo(a, Literal(v: UTF8String, StringType)) if attrName(a).contains("partition_key") =>
        if (partitionKey.isDefined) return None
        partitionKey = Some(v.toString)
      case EqualTo(a, Literal(v: Int, _)) if attrName(a).contains("partition_id") =>
        if (partitionId.isDefined) return None
        partitionId = Some(v)
      case lte @ LessThanOrEqual(a, _) if attrName(a).contains("partition_sequence") =>
        seqBounds += lte
      case _ => return None // anything else: not provably the clamp
    }

    val sid = streamId.getOrElse(return None)

    // ONE manifest snapshot supplies both the watermarks the bounds are
    // checked against and the head values — reading watermark and head
    // from different snapshots could return a head the clamped scan
    // cannot see. A bare stream_id filter matches the stream under
    // EVERY partition key, so all of the stream's head entries
    // participate; an explicit partition_key narrows to one.
    // headsForRewrite keeps the optimizer I/O-free on the hot path: a
    // live handle whose version matches disk (listing probe) answers
    // from its snapshot's per-stream head cache; only a stale/absent
    // handle pays the full disk read.
    val (snap, allHeads) =
      EventStore.headsForRewrite(reg, sid).getOrElse(return None)

    val heads = partitionKey match {
      case Some(pk) => allHeads.filter(_.partitionKey == pk)
      case None     => allHeads
    }
    val relevant = partitionId match {
      case Some(p) => heads.filter(_.partitionId == p)
      case None    => heads
    }

    // every sequence bound, evaluated at each relevant partition, must
    // admit that partition's whole committed prefix OF THIS SNAPSHOT;
    // a query clamped at an older watermark fails the check and keeps
    // its scan
    def boundAdmits(pid: Int): Boolean = {
      val wm = snap.watermark(pid)
      seqBounds.result().forall { case LessThanOrEqual(_, bound) =>
        val substituted = bound.transform {
          case a: AttributeReference if a.name == "partition_id" =>
            Literal(pid, a.dataType)
        }
        if (substituted.references.nonEmpty) false
        else substituted.eval(InternalRow.empty) match {
          case l: Long => l >= wm
          case i: Int  => i.toLong >= wm
          case _       => false
        }
      }
    }
    if (!relevant.forall(h => boundAdmits(h.partitionId))) return None

    val head: Option[Long] =
      if (relevant.isEmpty) None else Some(relevant.map(_.version).max)
    val row = InternalRow(head.map(Long.box).orNull)
    Some(LocalRelation(agg.output.map {
      case a: AttributeReference => a
      case other                 => other.toAttribute
    }, Seq(row)))
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }
}
