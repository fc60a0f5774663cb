package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** The benchmark's seeded input generator. Everything the program sees
  * is built here from the workload seed, so one seed gives one input.
  */
object Gen {

  /** A stable 64-bit mix of a seed and some integers (splitmix64). */
  def mix(seed: Long, xs: Long*): Long = {
    var h = seed ^ 0x9E3779B97F4A7C15L
    xs.foreach { x =>
      h ^= x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2)
      h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
      h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
      h ^= h >>> 31
    }
    h
  }

  def rng(seed: Long, xs: Long*): SplittableRandom = new SplittableRandom(mix(seed, xs: _*))

  /** Zipf over ranks `0 until n` with exponent `s`, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    require(n > 0, "Zipf over no ranks")
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"

  /** Payload of version `version` of stream `stream`, `bytes` long: a
    * pure function of its arguments, so a reader can check any event's
    * payload without keeping it.
    */
  def payload(seed: Long, stream: Int, version: Long, bytes: Int): Array[Byte] = {
    val r = rng(seed, 17, stream, version)
    val head = s"s$stream:v$version:"
    val sb = new StringBuilder(head)
    while (sb.length < bytes) sb += Alphabet.charAt(r.nextInt(Alphabet.length))
    sb.result().take(math.max(bytes, head.length)).getBytes(UTF_8)
  }

  def streamName(i: Int): String = f"st-$i%06d"

  /** Preloaded history: which stream each of `events` events goes to
    * (uniform over `streams`), in arrival order.
    */
  def historyStreams(seed: Long, events: Int, streams: Int): Array[Int] = {
    val r = rng(seed, 3)
    // every stream gets at least one event so every stream exists
    Array.tabulate(events)(i => if (i < streams) i else r.nextInt(streams))
  }

  // ------------------------------------------------------------ documents

  /** A generated corpus with planted duplicates.
    *
    * @param texts        document text by id (ids are `0 until n`)
    * @param exactOf      id -> original id, for planted exact copies
    * @param nearOf       id -> original id, for planted one-word edits
    */
  final case class Corpus(
      texts: Array[String],
      exactOf: Map[Int, Int],
      nearOf: Map[Int, Int])

  def corpus(seed: Long, n: Int, words: Int, vocab: Int,
      exactShare: Double, nearShare: Double): Corpus = {
    val r = rng(seed, 5)
    val vocabulary = Array.tabulate(vocab)(i => s"w${Integer.toString(i, 36)}")
    val wordZipf = new Zipf(vocab, 1.0)
    val texts = new Array[String](n)
    val exact = Map.newBuilder[Int, Int]
    val near = Map.newBuilder[Int, Int]
    // originals are drawn only from fresh documents, so a planted copy
    // never chains onto another copy
    val fresh = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (id <- 0 until n) {
      val u = r.nextDouble()
      if (fresh.nonEmpty && u < exactShare) {
        val o = fresh(r.nextInt(fresh.length))
        texts(id) = texts(o); exact += id -> o
      } else if (fresh.nonEmpty && u < exactShare + nearShare) {
        val o = fresh(r.nextInt(fresh.length))
        val ws = texts(o).split(' ')
        val at = r.nextInt(ws.length)
        // a word outside the vocabulary, so the edit always changes it
        ws(at) = s"x${Integer.toString(id, 36)}"
        texts(id) = ws.mkString(" "); near += id -> o
      } else {
        texts(id) = Array.fill(words)(vocabulary(wordZipf.sample(r)))
          .mkString(" ") + s" d$id"
        fresh += id
      }
    }
    Corpus(texts, exact.result(), near.result())
  }
}
