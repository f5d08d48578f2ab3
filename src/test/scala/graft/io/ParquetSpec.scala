package graft.io

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.queries.{StageCache, TextQueries}
import graft.sql.SparkTestBase
import org.apache.spark.sql.functions._

/** The memoized parquet read: a repeated read of unchanged files runs no
  * footer-inference job and sees the schema inference would give. */
class ParquetSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft_parquet_$tag").resolve("t").toString

  test("a second read of an unchanged path starts 0 jobs") {
    val dir = freshDir("repeat")
    (1 to 50).map(i => (i.toLong, s"v$i")).toDF("a", "b").write.parquet(dir)
    val (first, cold) = withJobStats(Parquet.read(spark, dir))
    assert(cold.jobs >= 1, "the first read infers the footer schema in a job")
    val (second, warm) = withJobStats(Parquet.read(spark, dir))
    assert(warm.jobs === 0)
    assert(second.schema === first.schema)
    assert(second.orderBy("a").collect().toSeq === first.orderBy("a").collect().toSeq)
  }

  test("the memoized schema equals the inferred one") {
    val dir = freshDir("equal")
    Seq((1L, "x", Seq(1.5, 2.5), Map("k" -> 1)), (2L, null, Seq.empty[Double], Map.empty[String, Int]))
      .toDF("id", "s", "arr", "m").write.parquet(dir)
    Parquet.read(spark, dir)
    val memo = Parquet.read(spark, dir).schema
    assert(memo === spark.read.parquet(dir).schema)
  }

  test("a file rewritten with a different schema is re-inferred") {
    val dir = freshDir("rewrite")
    Seq((1L, "x")).toDF("a", "b").write.parquet(dir)
    val stageBefore = StageCache.dir(dir, "t", "k")
    assert(Parquet.read(spark, dir).columns.toSeq === Seq("a", "b"))
    Seq((1L, 2.0, 3)).toDF("a", "c", "d").write.mode("overwrite").parquet(dir)
    val (df, stats) = withJobStats(Parquet.read(spark, dir))
    assert(stats.jobs >= 1, "a changed listing re-infers")
    assert(df.columns.toSeq === Seq("a", "c", "d"))
    assert(df.collect().head.getDouble(1) === 2.0)
    // the stage cache keys a directory source by the same listing
    assert(StageCache.dir(dir, "t", "k") != stageBefore)
  }

  test("a hive-partitioned stage dir (the posting_store shape) reads identical rows") {
    val dir = new java.io.File(freshDir("hive"))
    val postings = TextQueries.postingsOf(
      Seq((1L, "a b a c"), (2L, "b d e"), (3L, "a e f g")).toDF("doc_id", "text"))
    val inferred = StageCache.getOrPublish(spark, dir, partitionCols = Seq("bkt")) {
      postings.repartition(col("bkt"))
    }
    val (memo, stats) = withJobStats(StageCache.getOrPublish(spark, dir, Seq("bkt"))(
      fail("a published stage is not rebuilt")))
    assert(stats.jobs === 0)
    assert(memo.schema === inferred.schema)
    assert(memo.schema === spark.read.parquet(dir.getPath).schema)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("term", "doc_id").collect().map(_.toSeq).toSeq
    assert(rows(memo) === rows(inferred))
    assert(rows(memo) === rows(postings))
    // partition pruning still applies on the memoized read
    assert(memo.where(col("bkt") === 3).count() === postings.where(col("bkt") === 3).count())
  }

  test("every parquet read in src/main goes through Parquet.read") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val s = Files.walk(root)
    val readers = try s.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        new String(Files.readAllBytes(p), "UTF-8").contains("read.parquet("))
      .map(root.relativize(_).toString).toList
    finally s.close()
    assert(readers === List("scala/graft/io/Parquet.scala"))
  }
}
