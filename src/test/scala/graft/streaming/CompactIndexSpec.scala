package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins compactIndex's two contracts: the rewrite is
  * content-preserving (row multiset unchanged, so any future batch's
  * pairs are unchanged), and it actually bounds the file count that
  * per-batch appends grow without bound.
  */
class CompactIndexSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def parquetFiles(dir: String): Int =
    new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet") && f.length() > 0)

  test("compaction preserves content, bounds files, probes stay correct") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val indexDir = tempDir("cmp-spec-")
    try {
      val mk = (id: Long, text: String) => Seq((id, text)).toDF("id", "text")
      StreamingDedup.seedSimhashIndex(
        Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
          .toDF("id", "text"),
        "text", "id", indexDir.toString)
      // several single-doc probe batches — each append grows the file
      // count (one file per non-empty shuffle partition per batch)
      (2L to 6L).foreach { i =>
        StreamingDedup.simhashProbeBatch(
          mk(i, s"totally distinct text number $i about nothing shared"),
          "text", "id", indexDir.toString).collect()
      }
      val before = spark.read.parquet(indexDir.toString)
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      val filesBefore = parquetFiles(indexDir.toString)
      StreamingDedup.compactIndex(spark, indexDir.toString,
        Seq("band", "bkey"), targetFiles = 2)
      val after = spark.read.parquet(indexDir.toString)
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(after == before, "compaction must preserve the row multiset")
      assert(parquetFiles(indexDir.toString) <= 2 &&
        parquetFiles(indexDir.toString) < filesBefore,
        s"expected <=2 files after compaction (was $filesBefore)")
      // a probe AFTER compaction still finds its near-dup against a
      // pre-compaction index entry
      val pairs = StreamingDedup.simhashProbeBatch(
        mk(7L, "alpha beta gamma delta epsilon zeta eta theta"),
        "text", "id", indexDir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.contains((1L, 7L)),
        s"post-compaction probe lost the exact-dup pair: ${pairs.toSeq}")
    } finally graft.core.Fs.deleteRecursively(indexDir.toFile)
  }
}
