package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Scaladoc attaches a comment to the definition directly below it, so of
  * two `/** … */` blocks with nothing between them the first documents
  * nothing and its own definition goes undocumented. */
class ScaladocSpec extends AnyFunSuite {

  test("no source file in src/main stacks two scaladoc comments") {
    val stacked = """\*/[ \t]*\r?\n[ \t]*/\*\*""".r
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "no sources found under src/main")
    val hits = files.flatMap { f =>
      val s = Files.readString(f)
      stacked.findAllMatchIn(s).map(m => s"$f:${s.take(m.start).count(_ == '\n') + 1}")
    }
    assert(hits.isEmpty, s"stacked scaladoc comments at ${hits.mkString(", ")}")
  }
}
