package graft.streaming

import graft.PropHelpers
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Property: the FLAT and PRUNED simhash probes emit identical pairs
  * for ANY corpus, batch content, and partition count — the layout
  * changes where index bytes live, never which pairs exist. Random
  * corpora are built from a small vocabulary so near-dup, exact-dup,
  * and unrelated documents all occur; each trial seeds both layouts
  * from the same old split, probes the same two batches in order, and
  * compares emissions batch-by-batch (not just the union — the pruned
  * read must agree at every step, or a missed directory would shift a
  * pair to a later batch). Catches what the fixture spec cannot:
  * prefix collisions, empty touched∩live intersections, single-doc
  * batches, and parts values both tiny (everything collides) and
  * large (most directories absent).
  */
class PrunedEquivalencePropSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll
    with PropHelpers {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa")

  private def docGen(rng: scala.util.Random): String = {
    // 12-24 tokens; half the documents clone a shared template with
    // zero to two token edits, so near-dups are common
    val n = 12 + rng.nextInt(13)
    val base =
      if (rng.nextBoolean()) Vector.tabulate(n)(i => vocab(i % vocab.size))
      else Vector.fill(n)(vocab(rng.nextInt(vocab.size)))
    val edits = rng.nextInt(3)
    (0 until edits).foldLeft(base) { (d, _) =>
      d.updated(rng.nextInt(d.size), vocab(rng.nextInt(vocab.size)))
    }.mkString(" ")
  }

  test("flat and pruned probes agree batch-by-batch on random corpora") {
    import spark.implicits._
    val trial = Gen.zip(Gen.choose(0L, Long.MaxValue),
      Gen.oneOf(2, 3, 16, 257))
    forAllSampled(trial, runs = 8) { case (seed, parts) =>
      val rng = new scala.util.Random(seed)
      val nOld = 2 + rng.nextInt(4)
      val nNew = 2 + rng.nextInt(4)
      val docs = (1 to nOld + nNew).map(i => (i.toLong, docGen(rng)))
      val (oldDocs, newDocs) = docs.splitAt(nOld)
      val cut = 1 + rng.nextInt(newDocs.size)
      val batches = Seq(newDocs.take(cut), newDocs.drop(cut))
        .filter(_.nonEmpty)
      val flatDir = tempDir("peq-flat-")
      val prunedDir = tempDir("peq-pr-")
      try {
        StreamingDedup.seedSimhashIndex(
          oldDocs.toDF("id", "text"), "text", "id", flatDir.toString)
        StreamingDedup.seedSimhashIndexPruned(
          oldDocs.toDF("id", "text"), "text", "id", prunedDir.toString,
          parts = parts)
        batches.foreach { b =>
          val bd = b.toDF("id", "text")
          val flat = StreamingDedup
            .simhashProbeBatch(bd, "text", "id", flatDir.toString)
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
          val pruned = StreamingDedup
            .simhashProbeBatchPruned(bd, "text", "id", prunedDir.toString,
              parts = parts)
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
          assert(flat == pruned,
            s"layouts diverged (parts=$parts, batch=${b.map(_._1)}): " +
              s"flat=$flat pruned=$pruned")
        }
      } finally {
        graft.core.Fs.deleteRecursively(flatDir.toFile)
        graft.core.Fs.deleteRecursively(prunedDir.toFile)
      }
    }
  }
}
