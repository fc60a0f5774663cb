package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench's closing stderr is read by a consumer that keeps only the
  * last ~2000 characters and parses the last complete JSON line in
  * them; that line must be the `metric: total` summary.
  */
class BenchTailSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  /** "last 2000 chars, last JSON line" */
  private def tailParse(stderr: String): Option[com.fasterxml.jackson.databind.JsonNode] =
    stderr.takeRight(2000).split("\n").reverseIterator
      .flatMap(l => scala.util.Try(mapper.readTree(l.trim)).toOption)
      .find(n => n != null && n.isObject)

  // 180 legs, names as long as the real ones
  private val results = (0 until 180).map(i => f"stream_dedup_simhash_leg_$i%03d" -> (i * 1.234))
  // as long as the committed bench-summary.json (~1.7 KB)
  private val summary =
    """{"metric":"total","value":312.042,"unit":"sec","legs":180,""" +
      (0 until 40).map(i => f""""diag_$i%02d":$i""").mkString(",") +
      ""","record":"bench-out.json","sf":"/data/sf0.1","pad":"""" + "x" * 1000 + "\"}"

  test("the last JSON line of the bounded stderr tail is the total summary") {
    val lines = Bench.stderrTail(summary, results)
    val stderr = "executor shutdown chatter\n" + lines.mkString("", "\n", "\n")
    val last = tailParse(stderr).getOrElse(fail("no JSON line in the tail"))
    assert(last.get("metric").asText == "total")
    assert(last.get("legs").asInt == 180)

    // the parts carry exactly the per-query map, each line whole
    val parts = lines.init.map(mapper.readTree)
    assert(parts.forall(_.get("metric").asText == "queries_part"))
    assert(parts.forall(_.get("parts").asInt == parts.size))
    assert(lines.init.forall(_.length < 2000))
    val names = parts.flatMap { p =>
      val it = p.get("queries").fieldNames()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
    }
    assert(names == results.map(_._1))
  }

  test("parts printed after the summary would hide the total (the contract's reason)") {
    val lines = Bench.stderrTail(summary, results)
    val wrongOrder = (lines.last +: lines.init).mkString("", "\n", "\n")
    assert(tailParse(wrongOrder).map(_.get("metric").asText).contains("queries_part"))
  }
}
