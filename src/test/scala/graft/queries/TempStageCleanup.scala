package graft.queries

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.scalatest.{BeforeAndAfterAll, Suite}

/** For suites whose stages all belong to temporary inputs: after the
  * suite, removes every [[StageCache]] dir that appeared while it ran, and
  * the inputs made by [[tempInput]]. Suites run one at a time in the forked
  * test JVM, so those dirs are the suite's own; no later suite can read
  * them, since their inputs are gone. */
trait TempStageCleanup extends BeforeAndAfterAll { this: Suite =>

  private def cacheDirs(): Set[File] = {
    val root = new File(System.getProperty("java.io.tmpdir"), "graft-stage-cache")
    Option(root.listFiles()).fold(Set.empty[File])(_.toSet)
  }

  private var before = Set.empty[File]
  private val inputs = scala.collection.mutable.Buffer.empty[Path]

  /** A fresh temporary input dir, deleted after the suite. */
  protected def tempInput(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    inputs += dir
    dir
  }

  /** A fresh temporary input dir holding a copy of `sf`'s documents table. */
  protected def documentsCopy(sf: String): String = {
    val dir = tempInput("docs")
    Files.copy(Paths.get(s"$sf/documents.parquet"), dir.resolve("documents.parquet"),
      StandardCopyOption.COPY_ATTRIBUTES)
    dir.toString
  }

  override def beforeAll(): Unit = {
    before = cacheDirs()
    super.beforeAll()
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally ((cacheDirs() -- before).map(_.toPath) ++ inputs).foreach(deleteTree)

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
  }
}
