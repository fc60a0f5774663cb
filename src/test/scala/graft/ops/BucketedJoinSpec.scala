package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class BucketedJoinSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir",
      tempDir("graft-bkt-wh-").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("bucketedJoin: correct rows, NO shuffle and no re-sort on either side") {
    import spark.implicits._
    // force the sort-merge path — a broadcast would hide the shuffle
    // this layout exists to remove
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val left = (0L until 64L).map(i => (i, s"l$i")).toDF("lid", "lv")
      val right = (0L until 64L by 2L).map(i => (i, i * 10)).toDF("rid", "rv")
      val joined = Curation.bucketedJoin(left, "lid", right, "rid",
        buckets = 4, leftTable = "bkt_spec_l", rightTable = "bkt_spec_r")
      val got = joined.select(col("lid"), col("lv"), col("rv"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1)
      assert(got.length == 32 && got.head == ((0L, "l0", 0L)) &&
        got.last == ((62L, "l62", 620L)))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$plan")
      // a per-partition Sort above each scan is EXPECTED: since
      // SPARK-28595 Spark never trusts bucket-file ordering (legacy
      // conf, default off); the layout's win is the removed exchange
      assert(plan.contains("Bucketed: true") &&
        plan.contains("SelectedBucketsCount"),
        s"expected bucketed scans:\n$plan")
    } finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("bucketedJoin: nonce'd physical names, reclaims owned orphans, " +
      "GCs stale prior-JVM generations") {
    import spark.implicits._
    val left = (0L until 8L).map(i => (i, s"l$i")).toDF("lid", "lv")
    val right = (0L until 8L).map(i => (i, i * 10)).toDF("rid", "rv")
    // same-session re-run with the same logical names must succeed
    // (bench min-of-2 shape): the helper drops ITS OWN prior tables
    Curation.bucketedJoin(left, "lid", right, "rid", 2,
      leftTable = "bkt_rerun_l", rightTable = "bkt_rerun_r").count()
    val again = Curation.bucketedJoin(left, "lid", right, "rid", 2,
      leftTable = "bkt_rerun_l", rightTable = "bkt_rerun_r")
    assert(again.count() == 8)
    // physical names carry the session nonce — a concurrent session
    // (different JVM, different nonce) cannot collide with these
    val phys = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("bkt_rerun_l__g"))
    assert(phys.length == 1 && phys.head.matches("bkt_rerun_l__g[0-9a-f]{8}"),
      s"expected one nonce'd physical table, got ${phys.mkString(",")}")
    val wh = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    // a surviving location whose name embeds THIS JVM's nonce can only
    // be ours — catalog and filesystem out of sync (new SparkSession in
    // the same JVM, partially failed prior saveAsTable). The helper
    // reclaims it and proceeds instead of aborting on data it owns.
    val orphan = new java.io.File(wh,
      phys.head.replace("bkt_rerun_l", "bkt_orphan_l"))
    assert(orphan.mkdirs())
    val j = Curation.bucketedJoin(left, "lid", right, "rid", 2,
      leftTable = "bkt_orphan_l", rightTable = "bkt_orphan_r")
    assert(j.count() == 8)
    // stale generations from PRIOR JVMs accumulate (their nonce died
    // with its JVM): siblings of the logical name older than an hour
    // are GC'd; a RECENT foreign-nonce sibling (a live concurrent
    // session's table) must survive
    val stale = new java.io.File(wh, "bkt_rerun_l__g00000000")
    val fresh = new java.io.File(wh, "bkt_rerun_l__gffffffff")
    // ownership markers decide precisely when present: a LIVE owner
    // pid protects a table at ANY age; a DEAD owner pid releases it at
    // any age
    val liveOwned = new java.io.File(wh, "bkt_rerun_l__g11111111")
    val deadOwned = new java.io.File(wh, "bkt_rerun_l__g22222222")
    // FOREIGN-HOST marker: dead-looking pid, ancient mtime — but the
    // host in the marker is not ours, so its liveness is unknowable
    // from here and the table must NEVER be reclaimed (the shared-
    // warehouse case: another machine's live session would read as a
    // dead local pid)
    val foreignOwned = new java.io.File(wh, "bkt_rerun_l__g33333333")
    assert(stale.mkdirs() && fresh.mkdirs() &&
      liveOwned.mkdirs() && deadOwned.mkdirs() && foreignOwned.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(liveOwned, "_graft_owner").toPath,
      java.lang.ProcessHandle.current().pid().toString.getBytes("UTF-8"))
    java.nio.file.Files.write(
      new java.io.File(deadOwned, "_graft_owner").toPath,
      "999999999".getBytes("UTF-8"))
    java.nio.file.Files.write(
      new java.io.File(foreignOwned, "_graft_owner").toPath,
      "999999999@some-other-host@12345".getBytes("UTF-8"))
    val old = System.currentTimeMillis() - 2L * 60 * 60 * 1000
    assert(stale.setLastModified(old) && liveOwned.setLastModified(old) &&
      foreignOwned.setLastModified(old))
    try {
      Curation.bucketedJoin(left, "lid", right, "rid", 2,
        leftTable = "bkt_rerun_l", rightTable = "bkt_rerun_r").count()
      assert(!stale.exists(), "unmarked stale generation must be GC'd")
      assert(fresh.exists(), "unmarked recent generation must survive")
      assert(liveOwned.exists(),
        "a LIVE owner's table must survive at any age")
      assert(!deadOwned.exists(),
        "a DEAD owner's table must be reclaimed at any age")
      assert(foreignOwned.exists(),
        "a FOREIGN host's table must survive regardless of pid or age")
      // the tables this session just (re)created carry its own marker
      // — both the in-dir copy and the warehouse-level sibling that
      // existed from BEFORE the data write (the in-progress claim)
      val physName = spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("bkt_rerun_l__g")).head
      assert(new java.io.File(new java.io.File(wh, physName),
          "_graft_owner").exists(),
        "created tables must carry the in-dir ownership marker")
      val sibling = new java.io.File(wh, s"$physName._graft_owner")
      assert(sibling.exists(),
        "created tables must carry the sibling ownership marker")
      val body = new String(java.nio.file.Files.readAllBytes(
        sibling.toPath), "UTF-8")
      assert(body.split("@").length == 3 &&
        body.startsWith(java.lang.ProcessHandle.current().pid().toString + "@"),
        s"marker must be pid@host@startMillis, got: $body")
    } finally {
      graft.core.Fs.deleteRecursively(fresh)
      graft.core.Fs.deleteRecursively(liveOwned)
      graft.core.Fs.deleteRecursively(foreignOwned)
      new java.io.File(wh, "bkt_rerun_l__g33333333._graft_owner").delete()
    }
  }
}
