package graft.storage

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.EventStore
import graft.core.EventInput

/** A parquet file's footer and bloom filters live with its file object,
  * which a store's snapshot holds: a store path deleted and recreated
  * within one JVM (exactly what this spec does) must be served the new
  * store's files, never metadata read from the first store's.
  */
class HeadProbeSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  test("deleted-and-recreated store path serves fresh probe metadata") {
    val dir = tempDir("hp-recreate-").toString
    // store 1: tiny inline budget forces heads into parquet layers,
    // every stream at version 0
    val es1 = EventStore.open(spark, dir, numPartitions = 4, maxInlineHeads = 2)
    (0 until 8).foreach(i => es1.append(EventInput(s"hp-$i", "E")))
    assert(es1.sver("hp-3").contains(0L))
    // wipe the path and build a DIFFERENT store at the same location:
    // same streams, one more event each (version 1)
    rm(new java.io.File(dir))
    val es2 = EventStore.open(spark, dir, numPartitions = 4, maxInlineHeads = 2)
    (0 until 8).foreach { i =>
      es2.append(EventInput(s"hp-$i", "E"))
      es2.append(EventInput(s"hp-$i", "E"))
    }
    // metadata read from store 1's layer files would either throw
    // (files gone) or answer 0
    (0 until 8).foreach(i => assert(es2.sver(s"hp-$i").contains(1L), s"hp-$i"))
  }
}
