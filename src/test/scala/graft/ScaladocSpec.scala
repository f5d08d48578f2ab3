package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source hygiene: a scaladoc belongs to the definition right below it.
  * Two doc comments in a row (one's closing token on the line right before
  * the next one's opening token) leave the first describing nothing —
  * scaladoc attaches only the second. */
class ScaladocSpec extends AnyFunSuite {

  private val stacked = """\*/[ \t]*\r?\n[ \t]*/\*\*""".r

  test("no stacked scaladoc comments in src/main") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    assert(files.nonEmpty)
    val hits = files.flatMap { (f: Path) =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      stacked.findAllMatchIn(src).map { m =>
        s"$f:${src.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }
    assert(hits.isEmpty, s"stacked scaladoc at ${hits.mkString(", ")}")
  }
}
