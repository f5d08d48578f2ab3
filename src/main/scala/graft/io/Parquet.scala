package graft.io

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one parquet read path of `src/main`. A parquet read without a
  * schema runs a footer-inference job (one task reading a footer) before
  * the query's own jobs; a query that re-reads an unchanged input pays it
  * every time. `read` memoizes the inferred schema per canonical path set,
  * next to the [[fingerprint]] of the files it was inferred from: a repeated
  * read of unchanged files passes the schema and runs no inference job, a
  * changed fingerprint re-infers and replaces the entry (so the memo holds
  * one entry per distinct path set). */
object Parquet {

  private final case class Entry(fingerprint: String, schema: StructType)
  private val memo = new java.util.concurrent.ConcurrentHashMap[Seq[String], Entry]()

  /** `spark.read.parquet(paths*)` with the footer schema memoized. */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    val canonical = paths.map(p => new java.io.File(p).getCanonicalPath)
    // the session's parquet settings shape the inferred schema
    // (binaryAsString, int96AsTimestamp, …), so they are part of the key
    val fp = spark.conf.getAll.filter(_._1.startsWith("spark.sql.parquet.")).toSeq.sorted
      .mkString(";") + "|" + canonical.map(fingerprint).mkString("|")
    val hit = memo.get(canonical)
    if (hit != null && hit.fingerprint == fp) read(spark, hit.schema, paths: _*)
    else {
      val df = spark.read.parquet(paths: _*)
      memo.put(canonical, Entry(fp, df.schema))
      df
    }
  }

  /** A read with a schema the caller already holds (no inference job). */
  def read(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read.schema(schema).parquet(paths: _*)

  /** The recursive data-file listing under `path` (a file or a directory):
    * relative name, length and mtime of every file, skipping the names
    * Spark skips (`_SUCCESS`, `.crc`, `_temporary`, …). Any rewrite of a
    * data file changes it. */
  def fingerprint(path: String): String = {
    val root = Paths.get(path)
    if (!Files.exists(root)) return "missing"
    def hidden(p: Path) = {
      val n = p.getFileName.toString
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    }
    val entries = Seq.newBuilder[String]
    Files.walkFileTree(root, new java.nio.file.SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes) =
        if (d != root && hidden(d)) java.nio.file.FileVisitResult.SKIP_SUBTREE
        else java.nio.file.FileVisitResult.CONTINUE
      override def visitFile(f: Path, a: BasicFileAttributes) = {
        if (f == root || !hidden(f))
          entries += s"${root.relativize(f)}:${a.size}:${a.lastModifiedTime.to(TimeUnit.MICROSECONDS)}"
        java.nio.file.FileVisitResult.CONTINUE
      }
    })
    entries.result().sorted.mkString(",")
  }
}
