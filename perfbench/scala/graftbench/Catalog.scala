package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Catalog workload: oracle-gated `SparkEntry.queries` over the committed
  * sf0.01 tables, a cold pass (fresh JVM, empty StageCache), then warm
  * passes, each in its own seed-permuted order. Per-query work is small,
  * so planning, job scheduling, exchanges and driver barriers dominate.
  *
  * The query set is the subset of the queries the open performance items
  * name that fits the run budget (a cold plus warm pass over all 116
  * queries took 288 s on 4 cores). q40 is left to the spatial workload,
  * which runs `JoinQueries.shufflePip` directly; q20 keeps the vector
  * kernels busy. The traced run also runs the crawl pipeline ([[Crawl]]). */
object Catalog extends Workload {

  def kernels(run: Run): Unit = Kernels.text(run)

  val Queries: Seq[String] = Seq(
    "q18_minhash_pairs", "q20_emb_knn_cosine", "q46_ngram_jaccard",
    "q84_cm_heavy", "q92_shingle_containment", "q115_dedup_eval")

  private def sfName(run: Run) = if (run.small) "sf0.001" else "sf0.01"

  /** The tables are fixed (the oracle reference digests are recorded over
    * them); set-up copies them into the run's directory. */
  def generate(run: Run, dir: String): Unit = {
    val src = new java.io.File(run.dataDir, sfName(run))
    val names = Option(src.listFiles()).map(_.toSeq).getOrElse(Nil).filter(_.getName.endsWith(".parquet"))
    require(names.nonEmpty, s"no tables under $src")
    names.foreach(f => java.nio.file.Files.copy(f.toPath, new java.io.File(dir, f.getName).toPath))
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Order-independent digest of every output column plus the row count:
    * per column the sums of the high and low 32 bits of xxhash64. It runs
    * over the collected rows (a local relation), after the pass's clock
    * has stopped. */
  def digest(run: Run, schema: StructType, rows: Array[Row]): String = {
    val df = run.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val fields = schema.fields.sortBy(_.name).toSeq
    val parts: Seq[Column] = count(lit(1)) +: fields.flatMap { f =>
      val c0 = df.col(s"`${f.name}`")
      val h = xxhash64(if (hasMap(f.dataType)) to_json(c0) else c0)
      Seq(sum(shiftrightunsigned(h, 32)), sum(h.bitwiseAND(lit(0xffffffffL))))
    }
    val r = df.agg(parts.head, parts.tail: _*).head()
    fields.map(_.name).mkString(",") + "|" + (0 until r.length).map(i => String.valueOf(r.get(i))).mkString(",")
  }

  /** An exact, order-stable text form of a value (binary as hex, map
    * entries sorted), so two passes' rows compare as multisets. */
  def canonical(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canonical).mkString("[", ",", "]")
    case other => other.toString
  }

  /** per query, the canonical rows of its first good output (one run per JVM) */
  private val firstRows = mutable.Map.empty[String, Seq[String]]

  /** The timed action of a query is `collect()`: what a user gets. An
    * aggregate over the output (a digest, or `count()`) would let Catalyst
    * prune output projections and drop a final `orderBy`, so their cost
    * would never run. */
  def pass(run: Run, inputDir: String, phase: String, tag: String): Double = {
    val order = if (phase == "cold") Queries else new scala.util.Random(run.seed * 1000 + tag.hashCode).shuffle(Queries)
    val digests = run.outputs.getOrElseUpdate("digests", mutable.LinkedHashMap.empty[String, String])
      .asInstanceOf[mutable.LinkedHashMap[String, String]]
    val collected = mutable.ArrayBuffer.empty[(String, StructType, Array[Row])]
    val t0 = System.nanoTime()
    run.tracer.span(s"pass.$tag", phase) {
      order.foreach { q =>
        val fn = graft.SparkEntry.queries(q)
        val name = s"$tag/$q"
        run.op(name, phase) {
          val df = fn(run.spark, inputDir)
          (df.schema, df.collect())
        }.foreach { case (schema, rows) => collected += ((name, schema, rows)) }
        org.apache.spark.sql.GraftCheckpoints.releaseAll()
        val left = org.apache.spark.graft.BenchProbes.persistedRddCount(run.spark.sparkContext)
        run.check(name, "leak", left == 0, s"$left persisted RDDs left after releaseAll")
        org.apache.spark.graft.BenchProbes.purgeShuffles(run.spark.sparkContext)
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // the first good output of a query is digested for the reference check;
    // later passes must return the same rows
    collected.foreach { case (name, schema, rows) =>
      val q = name.split('/')(1)
      val canon = rows.toSeq.map(canonical).sorted
      firstRows.get(q) match {
        case None =>
          firstRows(q) = canon
          digests(name) = digest(run, schema, rows)
        case Some(want) =>
          run.check(name, "same_as_first", canon == want, s"$name differs from the first pass's output")
      }
    }
    if (phase == "cold") {
      val cache = new java.io.File(System.getProperty("java.io.tmpdir"), "graft-stage-cache")
      run.info("stagecache.stages") =
        Option(cache.listFiles()).map(_.count(d => new java.io.File(d, "_SUCCESS").exists())).getOrElse(0)
      run.info("stagecache.bytes") = Files.bytesUnder(cache)
    }
    run.info(s"$tag.order") = order
    wall
  }

  def check(run: Run, inputDir: String): Unit = () // digests are compared with the reference by run.py

  override def traced(run: Run, inputDir: String, listener: PhaseListener): Unit = {
    Crawl.traced(run)
    org.apache.spark.graftbench.Bus.drain(run.spark.sparkContext)
    Queries.foreach { name =>
      val q = name.split('_').head
      run.metrics(s"queries.$q.warm_s") = warmWall(run, name)
      run.metrics(s"queries.$q.jobs") = listener.synchronized(listener.jobsByOp(s"warm1/$name")).toDouble
    }
    run.metrics("queries.warm_p50_s") = run.info("op_warm_p50_s").asInstanceOf[Double]
    run.metrics("stagecache.stages") = run.info("stagecache.stages").asInstanceOf[Int].toDouble
    run.metrics("stagecache.bytes") = run.info("stagecache.bytes").asInstanceOf[Long].toDouble
    run.metrics("stagecache.cold_minus_warm_s") = run.metrics("cold_s") - run.metrics("warm_s")
  }
}
