package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins [[GenIndex]]'s reader-safety contract: compaction rewrites
  * into a NEW generation and flips an atomic pointer, a reader that
  * resolved the OLD generation before the flip still collects
  * (retention), content is preserved across any number of flips, and
  * retention eventually reclaims generations beyond `retain`.
  * Integration: the pruned streaming probe run via manifest
  * resolution emits the same pairs across an interleaved compaction.
  */
class GenIndexSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def withRoot[A](f: String => A): A = {
    val root = tempDir("genidx-spec-")
    try f(root.toString)
    finally graft.core.Fs.deleteRecursively(root.toFile)
  }

  test("init publishes gen-00000; compact flips, retains, then reclaims") {
    import spark.implicits._
    withRoot { root =>
      GenIndex.init(root) { dir =>
        (0L until 100L).map(i => (i, i % 7)).toDF("id", "k")
          .write.parquet(dir)
      }
      assert(GenIndex.currentGen(root).endsWith("gen-00000"))
      val before = spark.read.parquet(GenIndex.currentGen(root))
        .orderBy("id").collect().toSeq

      // reader resolves gen-00000 NOW — must survive the flip below
      val oldGenPath = GenIndex.currentGen(root)
      GenIndex.compact(spark, root, Seq("k"), targetFiles = 2)
      assert(GenIndex.currentGen(root).endsWith("gen-00001"))
      assert(!new java.io.File(root, "MANIFEST.tmp").exists,
        "atomic flip left its temp file behind")
      val after = spark.read.parquet(GenIndex.currentGen(root))
        .orderBy("id").collect().toSeq
      assert(after == before, "compaction changed the index content")
      // retention: the pre-flip reader's generation is still whole
      val lateReader = spark.read.parquet(oldGenPath).orderBy("id")
        .collect().toSeq
      assert(lateReader == before,
        "a reader holding the pre-flip generation lost its files")

      // second flip reclaims gen-00000 (retain = 1 keeps only one old)
      GenIndex.compact(spark, root, Seq("k"), targetFiles = 2)
      assert(GenIndex.currentGen(root).endsWith("gen-00002"))
      val gens = new java.io.File(root).listFiles()
        .filter(_.getName.startsWith("gen-")).map(_.getName).sorted.toSeq
      assert(gens == Seq("gen-00001", "gen-00002"),
        s"retention kept the wrong generations: $gens")
    }
  }

  test("pruned probe via manifest resolution is exact across a compaction") {
    import spark.implicits._
    val docs: Seq[(Long, String)] = Seq(
      1L -> "the quick brown fox jumps over the lazy dog near the quiet river bank today",
      2L -> "the quick brown fox jumps over the lazy dog near the quiet river bank today",
      3L -> "completely different text about distributed query engines and shuffle exchanges at scale",
      10L -> "large language models train on deduplicated corpora for better generalization and efficiency",
      11L -> "large language models train on deduplicated corpora for better generalization and efficiency",
      12L -> "unrelated short note on parquet bloom filters and row group pruning strategies in columnar storage"
    )
    val newIds = Set(2L, 10L, 11L, 12L)
    val expected = graft.ops.Dedup.simhashPairsIncremental(
        docs.toDF("id", "text"), "text", "id",
        col("id").isin(newIds.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    withRoot { root =>
      GenIndex.init(root) { dir =>
        StreamingDedup.seedSimhashIndexPruned(
          docs.filterNot(d => newIds(d._1)).toDF("id", "text"),
          "text", "id", dir, parts = 16)
      }
      val byId = docs.toMap
      def probe(ids: Seq[Long]) =
        StreamingDedup.simhashProbeBatchPruned(
            ids.map(i => (i, byId(i))).toDF("id", "text"),
            "text", "id", GenIndex.currentGen(root), parts = 16)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
      val got1 = probe(Seq(2L, 10L))
      GenIndex.compact(spark, root, Seq("pfx"),
        partitionCols = Seq("pfx"))
      // the layout-contract marker rode the rewrite into the new
      // generation — without it the next probe would refuse to run
      val marker = new java.io.File(GenIndex.currentGen(root),
        "_graft_parts")
      assert(marker.exists, "compaction dropped the _graft_parts marker")
      assert(new String(java.nio.file.Files.readAllBytes(marker.toPath),
        "UTF-8").trim == "16", "marker value changed across the rewrite")
      val got2 = probe(Seq(11L, 12L))
      assert((got1 ++ got2) == expected,
        "probes across a generation flip diverged from the batch incremental answer")
    }
  }
}
