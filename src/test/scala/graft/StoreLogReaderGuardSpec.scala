package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps one reader of a store's log: outside `graft/api/`, no source
  * file under `src/main/scala` builds a path to a store's `events`
  * directory or sets Spark's file-source trigger bound, and the graft
  * event source is built in one place (`GraftEventSource.log`).
  * Comment lines are not checked.
  */
class StoreLogReaderGuardSpec extends AnyFunSuite {

  private val srcRoot = Paths.get("src/main/scala")

  /** (path under `src/main/scala`, line number, line) of every code line */
  private lazy val codeLines: Seq[(String, Int, String)] = {
    val w = Files.walk(srcRoot)
    val files = try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally w.close()
    files.flatMap { (f: Path) =>
      val rel = srcRoot.relativize(f).toString.replace('\\', '/')
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if !Seq("*", "/*", "//").exists(l.trim.startsWith) => (rel, i + 1, l)
      }
    }
  }

  private def where(hits: Seq[(String, Int, String)]) =
    hits.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("\n")

  test("the guard sees the program's sources") {
    assert(codeLines.exists(_._1 == "graft/SparkEntry.scala"))
  }

  test("no file outside graft/api/ builds a path to a store's events directory") {
    val eventsPath = """"[^"]*/events(/[^"]*)?"|(Paths\.get|Path\.of|\.resolve|File)\([^)]*"events"""".r
    val hits = codeLines.filter { case (f, _, l) =>
      !f.startsWith("graft/api/") && eventsPath.findFirstIn(l).nonEmpty
    }
    assert(hits.isEmpty, where(hits))
  }

  test("no file sets maxFilesPerTrigger") {
    val hits = codeLines.filter(_._3.contains("maxFilesPerTrigger"))
    assert(hits.isEmpty, where(hits))
  }

  test("the graft event source is built in one place") {
    val builds = codeLines.filter { case (_, _, l) =>
      l.contains("classOf[GraftEventSourceProvider]") || l.contains("\"graft-events\")")
    }
    assert(builds.map(_._1) == Seq("graft/streaming/GraftEventSource.scala"), where(builds))
  }
}
