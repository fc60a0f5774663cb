package perfbench

/** Correctness checkers over what a run observed. Each returns the
  * problems it found; an empty result is a pass.
  */
object Checks {

  /** A stream's acknowledged versions, in acknowledgement order, must be
    * exactly `head + 1, head + 2, ...`: no gap, no repeat, no reorder.
    */
  def gaplessVersions(stream: String, head: Long, acked: Seq[Long]): Seq[String] = {
    val want = (head + 1 to head + acked.length).toVector
    if (acked.toVector == want) Nil
    else Seq(s"$stream: acked versions ${acked.take(8).mkString(",")}... " +
      s"are not ${head + 1}..${head + acked.length}")
  }

  /** A closing scan must return exactly the acknowledged events, in
    * order: same ids, versions and payloads.
    */
  def scanEqualsAcked(stream: String,
      acked: Seq[(String, Long, Seq[Byte])],
      scanned: Seq[(String, Long, Seq[Byte])]): Seq[String] =
    if (acked == scanned) Nil
    else {
      val at = acked.zipAll(scanned, null, null).indexWhere { case (a, b) => a != b }
      Seq(s"$stream: closing scan differs from the acked events at position $at " +
        s"(acked ${acked.length}, scanned ${scanned.length})")
    }

  /** One subscription's pushes, in arrival order, as (cursor, stream,
    * version): cursors must count 0, 1, 2, ... and each stream's versions
    * must be exactly `expected(stream)`: every event once, in version
    * order.
    */
  def deliveredOnce(sub: String, expected: Map[String, Seq[Long]],
      delivered: Seq[(Long, String, Long)]): Seq[String] = {
    val cursors = delivered.map(_._1)
    val problems = Seq.newBuilder[String]
    if (cursors != cursors.indices.map(_.toLong))
      problems += s"$sub: cursors are not gapless from 0 " +
        s"(first bad at ${cursors.indices.find(i => cursors(i) != i).getOrElse(-1)})"
    val got = delivered.groupBy(_._2).map { case (s, xs) => s -> xs.map(_._3) }
    (expected.keySet ++ got.keySet).toSeq.sorted.foreach { stream =>
      val want = expected.getOrElse(stream, Nil)
      val versions = got.getOrElse(stream, Nil)
      if (versions != want) {
        val dup = versions.diff(versions.distinct).headOption
        val missing = want.diff(versions).headOption
        problems += s"$sub/$stream: delivered ${versions.length} of ${want.length} events" +
          dup.fold("")(v => s", version $v more than once") +
          missing.fold("")(v => s", version $v missing") +
          (if (dup.isEmpty && missing.isEmpty) ", out of order" else "")
      }
    }
    problems.result()
  }

  /** Ops sent one after another from `startNs`, one event each, as
    * (send, ack) in order: each must carry its own send time, taken after
    * the previous op was acknowledged and before its own ack. A stale
    * send time (one op's time reused for the next) is rejected.
    */
  def ownSendTimes(what: String, startNs: Long, ops: Seq[(Long, Long)]): Seq[String] =
    ops.indices.collectFirst {
      case i if ops(i)._1 < (if (i == 0) startNs else ops(i - 1)._2) || ops(i)._1 > ops(i)._2 =>
        s"$what: op $i was timed from ${ops(i)._1}, not from its own send"
    }.toSeq

  /** Per partition (pid, min, max, rows, distinct): sequences must be
    * exactly `0 until rows`.
    */
  def gaplessSequences(parts: Seq[(Int, Long, Long, Long, Long)]): Seq[String] =
    parts.collect {
      case (pid, lo, hi, n, d) if lo != 0 || hi != n - 1 || d != n =>
        s"partition $pid: sequences $lo..$hi over $n rows ($d distinct)"
    }

  /** Dedup output rows (id, cluster, keeper) over documents `0 until n`:
    * every document exactly once, and every planted exact-duplicate
    * group (original -> copies) in one cluster with exactly one keeper.
    */
  def dedupOutput(n: Int, rows: Seq[(Long, Long, Boolean)],
      exactGroups: Map[Int, Seq[Int]]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val ids = rows.map(_._1)
    if (ids.length != n || ids.distinct.length != n || ids.exists(i => i < 0 || i >= n))
      problems += s"dedup output has ${ids.length} rows, ${ids.distinct.length} distinct ids, " +
        s"for $n documents"
    val clusterOf = rows.map(r => r._1 -> r._2).toMap
    val keepers = rows.filter(_._3).groupBy(_._2).map { case (c, rs) => c -> rs.length }
    exactGroups.toSeq.sortBy(_._1).foreach { case (orig, copies) =>
      val cs = (orig +: copies).flatMap(i => clusterOf.get(i.toLong)).distinct
      if (cs.length != 1)
        problems += s"exact-duplicate group of $orig is split over clusters ${cs.mkString(",")}"
      else if (keepers.getOrElse(cs.head, 0) != 1)
        problems += s"cluster ${cs.head} of exact group $orig has " +
          s"${keepers.getOrElse(cs.head, 0)} keepers"
    }
    problems.result()
  }

  /** Share of planted near duplicates that landed in their original's
    * cluster.
    */
  def recall(rows: Seq[(Long, Long, Boolean)], nearOf: Map[Int, Int]): Double =
    if (nearOf.isEmpty) 1.0
    else {
      val clusterOf = rows.map(r => r._1 -> r._2).toMap
      nearOf.count { case (d, o) =>
        clusterOf.get(d.toLong).exists(c => clusterOf.get(o.toLong).contains(c))
      }.toDouble / nearOf.size
    }
}
