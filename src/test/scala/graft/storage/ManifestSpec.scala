package graft.storage

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

class ManifestSpec extends AnyFunSuite with graft.TempDirs with graft.PropHelpers {

  private val genState: Gen[ManifestState] = for {
    v <- Gen.chooseNum(0L, 1000L)
    np <- Gen.oneOf(1, 4, 32)
    wms <- Gen.mapOf(Gen.zip(Gen.chooseNum(0, 31), Gen.chooseNum(-1L, 1e9.toLong)))
    heads <- Gen.mapOf(Gen.zip(
      Gen.alphaNumStr.suchThat(s => s.nonEmpty && s.length <= 64),
      for {
        ver <- Gen.chooseNum(0L, 1e9.toLong)
        pid <- Gen.chooseNum(0, 31)
      } yield StreamHead(ver, java.util.UUID.randomUUID().toString, pid)))
  } yield ManifestState(v, np, wms, heads)

  test("render/parse round-trips") {
    forAllSampled(genState) { st =>
      assert(Manifest.parse(Manifest.render(st)) == st)
    }
  }

  test("escaped stream ids round-trip") {
    val st = ManifestState(1, 4, Map(0 -> 5L),
      Map("s\"quote" -> StreamHead(1, "pk", 0),
        "s\\back" -> StreamHead(2, "pk", 1),
        "s\ttab" -> StreamHead(3, "pk", 2)))
    assert(Manifest.parse(Manifest.render(st)) == st)
  }

  test("sequences past 2^53 round-trip exactly (no Double rounding)") {
    // 2^53 + 1 is the first Long a Double cannot represent
    val big = (1L << 53) + 1
    val st = ManifestState(big, 32, Map(7 -> big, 8 -> (Long.MaxValue - 1)),
      Map("pk:stream" -> StreamHead(big + 2, "pk", 7)),
      Map("ck" -> (big + 3)))
    val parsed = Manifest.parse(Manifest.render(st))
    assert(parsed == st)
    assert(parsed.watermarks(8) == Long.MaxValue - 1)
  }

  test("commit picks newest version on load") {
    val dir = tempDir("graft-mf-").toString
    assert(Manifest.load(dir).isEmpty)
    Manifest.commit(dir, ManifestState(1, 4, Map(0 -> 1L), Map.empty))
    Manifest.commit(dir, ManifestState(2, 4, Map(0 -> 9L), Map.empty))
    Manifest.commit(dir, ManifestState(10, 4, Map(0 -> 99L), Map.empty))
    assert(Manifest.load(dir).get.watermarks(0) == 99L)
  }

  test("retention: 10k commits leave at most Retain+1 manifest files") {
    val dir = tempDir("graft-mf-gc-").toString
    (1 to 10000).foreach { v =>
      Manifest.commit(dir, ManifestState(v.toLong, 4, Map(0 -> v.toLong), Map.empty))
    }
    val files = Files.list(Manifest.dirFor(dir))
    val names =
      try {
        import scala.jdk.CollectionConverters._
        files.iterator().asScala.map(_.getFileName.toString).toVector
      } finally files.close()
    assert(names.count(_.matches("v\\d+\\.json")) <= Manifest.Retain + 1, names.sorted.mkString(","))
    assert(names.forall(!_.endsWith(".tmp")))
    // newest survives and is the one load resolves
    assert(Manifest.load(dir).get.version == 10000L)
    assert(Manifest.load(dir).get.watermarks(0) == 10000L)
  }

  test("retention also sweeps stale temp files from crashed commits") {
    val dir = tempDir("graft-mf-tmp-").toString
    Manifest.commit(dir, ManifestState(1, 4, Map(0 -> 1L), Map.empty))
    // simulate a crash that left a temp file behind at an old version
    Files.write(Manifest.dirFor(dir).resolve(".v2.json.tmp"), Array[Byte](123))
    (3 to 40).foreach { v =>
      Manifest.commit(dir, ManifestState(v.toLong, 4, Map(0 -> v.toLong), Map.empty))
    }
    assert(!Files.exists(Manifest.dirFor(dir).resolve(".v2.json.tmp")))
    assert(Manifest.load(dir).get.version == 40L)
  }

  // ---- delta commits

  /** `n` inline-append commits through [[Manifest.commitDelta]], one
    * stream and one watermark per version; returns every version's full
    * state (index = version) as the model to compare loads against.
    */
  private def appendCommits(dir: String, n: Int): IndexedSeq[ManifestState] = {
    var st = Manifest.empty(4)
    var chain = -1
    Manifest.empty(4) +: (1 to n).map { v =>
      val wm = Map((v % 4) -> v.toLong)
      val heads = Map(s"pk:s-${v % 7}" -> StreamHead(v.toLong, "pk", v % 4))
      st = st.copy(version = v.toLong, watermarks = st.watermarks ++ wm,
        streamHeads = st.streamHeads ++ heads)
      chain = Manifest.commitDelta(dir, st, chain, wm, heads)
      st
    }
  }

  private def manifestFiles(dir: String): Vector[String] = {
    val files = Files.list(Manifest.dirFor(dir))
    try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.map(_.getFileName.toString).toVector
    } finally files.close()
  }

  private def isDelta(dir: String, v: Long): Boolean =
    Files.readString(Manifest.dirFor(dir).resolve(s"v$v.json")).contains("\"base\":")

  test("delta commits: checkpoints every CheckpointEvery versions, load resolves the chain") {
    val dir = tempDir("graft-mf-delta-").toString
    val model = appendCommits(dir, 15)
    // a new store's first commit has no base on disk: a checkpoint
    assert(!isDelta(dir, 1))
    (2 to 15).foreach { v =>
      assert(isDelta(dir, v) == (v % Manifest.CheckpointEvery != 0), s"v$v")
    }
    assert(Manifest.loadChain(dir).contains((model(15), 15 % Manifest.CheckpointEvery)))
    assert(Manifest.load(dir).contains(model(15)))
    assert(Manifest.newestVersion(dir).contains(15L))
    // a delta is not a full state on its own
    intercept[IllegalArgumentException](
      Manifest.parse(Files.readString(Manifest.dirFor(dir).resolve("v15.json"))))
  }

  test("retention with deltas: at most Retain+1 files, the newest chain always kept") {
    val dir = tempDir("graft-mf-delta-gc-").toString
    val model = appendCommits(dir, 2003) // checkpoint 2000, deltas 2001..2003
    val names = manifestFiles(dir)
    assert(names.count(_.matches("v\\d+\\.json")) <= Manifest.Retain + 1, names.sorted.mkString(","))
    assert(names.forall(!_.endsWith(".tmp")))
    // the newest chain resolves from every version of it
    (2003 to 2000 by -1).foreach { v =>
      assert(Manifest.loadChain(dir).contains((model(v), v - 2000)))
      Files.delete(Manifest.dirFor(dir).resolve(s"v$v.json"))
    }
  }

  test("a torn delta or a missing base falls back to an older complete version") {
    val dir = tempDir("graft-mf-torn-").toString
    val model = appendCommits(dir, 13) // checkpoint 8, deltas 9..13
    val mdir = Manifest.dirFor(dir)
    // torn newest delta: cut short mid-document
    val v13 = Files.readString(mdir.resolve("v13.json"))
    Files.writeString(mdir.resolve("v13.json"), v13.take(v13.length / 2))
    assert(Manifest.load(dir).contains(model(12)))
    // a delta whose base is gone: 12 and 11 lose their chain, 10 is
    // the newest version that resolves — never a partly applied 12
    Files.delete(mdir.resolve("v11.json"))
    assert(Manifest.loadChain(dir).contains((model(10), 2)))
    // a torn checkpoint takes every delta above it down with it
    Files.writeString(mdir.resolve("v8.json"), "{\"version\":8,\"num_part")
    assert(Manifest.load(dir).contains(model(7)))
    // nothing resolves: an error, not an empty or older store
    (1 to 7).foreach(v => Files.writeString(mdir.resolve(s"v$v.json"), "{"))
    intercept[IllegalStateException](Manifest.load(dir))
  }

  test("full manifests in the checkpoint format load unchanged") {
    val dir = tempDir("graft-mf-legacy-").toString
    Files.createDirectories(Manifest.dirFor(dir))
    Files.writeString(Manifest.dirFor(dir).resolve("v3.json"),
      "{\"version\":3,\"num_partitions\":4,\"watermarks\":{\"0\":5,\"2\":1}," +
        "\"stream_heads\":{\"pk:s\\\"q\":[1,\"pk\",0]},\"stream_batch_ids\":{\"ck\":2}," +
        "\"heads_base\":0,\"heads_deltas\":[]}")
    val st = ManifestState(3, 4, Map(0 -> 5L, 2 -> 1L),
      Map("pk:s\"q" -> StreamHead(1, "pk", 0)), Map("ck" -> 2L))
    assert(Manifest.loadChain(dir).contains((st, 0)))
    assert(Manifest.render(st) == Files.readString(Manifest.dirFor(dir).resolve("v3.json")))
  }

  test("arbitrary strings round-trip through the escaping fast and slow paths") {
    forAllSampled(Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.asciiStr, Gen.stringOf(Gen.choose(0.toChar, 0x2fff.toChar)))), runs = 100) { ss =>
      val st = ManifestState(1, 4, Map.empty,
        ss.map(s => s -> StreamHead(1, s, 0)).toMap, ss.map(_ -> 1L).toMap)
      assert(Manifest.parse(Manifest.render(st)) == st)
    }
  }
}
