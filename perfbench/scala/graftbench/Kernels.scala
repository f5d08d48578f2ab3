package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Geom, Mercator}
import graft.ops.{ExtractText, TextOps}
import graft.sql.{functions => G}

/** Kernel-tier metrics of the traced run: direct loops on one thread, and
  * one-column projections over cached in-memory frames at local[4]
  * reported per core. Inputs are seeded and fixed in size, so the numbers
  * are comparable across workloads and commits. */
object Kernels {

  /** circumscribed 64-gon around the join layer's hot-cell polygon extent. */
  val Ring: Array[Geom.Pt] = Array.tabulate(64) { k =>
    val a = 2 * math.Pi * k / 64
    Geom.Pt(2.3 + 0.1 * math.cos(a), 48.875 + 0.075 * math.sin(a))
  }

  private def points(n: Int, seed: Long): (Array[Double], Array[Double]) = {
    val r = new scala.util.Random(seed)
    (Array.fill(n)(2.18 + 0.24 * r.nextDouble()), Array.fill(n)(48.78 + 0.19 * r.nextDouble()))
  }

  /** keeps loop results live so the JIT cannot drop the timed work */
  @volatile var sink = 0L

  private def rayLoop(xs: Array[Double], ys: Array[Double], times: Int): Unit = {
    var hits = 0
    var t = 0
    while (t < times) {
      var i = 0
      while (i < xs.length) { if (Geom.rayCastInRing(xs(i), ys(i), Ring)) hits += 1; i += 1 }
      t += 1
    }
    sink += hits
  }

  /** Host weather: a fixed amount of ray-casting on 4 plain threads,
    * recorded before and after the timed window. Returns rows/s. */
  def weather(): Double = {
    val (xs, ys) = points(100000, 1L)
    rayLoop(xs, ys, 2) // compiled before it is timed
    val times = 8
    val t0 = System.nanoTime()
    val threads = (0 until Main.Cores).map(_ => new Thread(() => rayLoop(xs, ys, times)))
    threads.foreach(_.start()); threads.foreach(_.join())
    Main.Cores * xs.length.toDouble * times / ((System.nanoTime() - t0) / 1e9)
  }

  /** median wall of `reps` timed runs after one untimed warm-up. */
  private def timed(reps: Int)(body: => Unit): Double = {
    body
    Main.median((0 until reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })
  }

  /** `metric`.rows_per_s: rows per second per core of a one-column projection. */
  private def project(run: Run, metric: String, df: DataFrame, rows: Long, v: Column): Double = {
    val wall = run.tracer.span(s"kernel.$metric", "kernels") {
      timed(2)(df.select(v.as("v")).agg(max(col("v"))).collect())
    }._1
    val perCore = rows / wall / Main.Cores
    run.metrics(s"$metric.rows_per_s") = perCore
    perCore
  }

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.persist()
    (c, c.count())
  }

  /** core and sql geometry */
  def geometry(run: Run): Unit = {
    val spark = run.spark

    // core
    val (xs, ys) = points(200000, run.seed)
    val rayWall = run.tracer.span("kernel.core.raycast", "kernels")(timed(3)(rayLoop(xs, ys, 5)))._1
    val rayDirect = xs.length * 5 / rayWall
    run.metrics("core.raycast_rows_per_s") = rayDirect
    val tileWall = run.tracer.span("kernel.core.tile", "kernels")(timed(3) {
      var acc = 0L; var i = 0
      while (i < xs.length) { acc += Mercator.tileAtPacked(xs(i) * 70, ys(i), 12); i += 1 }
      sink += acc
    })._1
    val tileDirect = xs.length / tileWall
    run.metrics("core.tile_rows_per_s") = tileDirect

    // sql geometry over a cached point frame
    val ringX = typedLit(Ring.map(_.x)); val ringY = typedLit(Ring.map(_.y))
    val poly = typedLit(Geom.toWkb(Geom.polygon(Ring.map(p => (p.x, p.y)).toIndexedSeq: _*)))
    val (pts, n) = cached(spark.range(0L, 600000L, 1L, Main.Cores * 2)
      .select((lit(2.18) + pmod(xxhash64(col("id"), lit(run.seed)), lit(240000L)) / 1e6).as("lon"),
        (lit(48.78) + pmod(xxhash64(col("id"), lit(run.seed + 1)), lit(190000L)) / 1e6).as("lat"))
      .withColumn("cell", G.st_tile(col("lon"), col("lat"), 12)))
    val ring = project(run, "sql.st_contains_ring", pts, n, G.st_contains_ring(ringX, ringY, col("lon"), col("lat")))
    run.metrics("sql.st_contains_ring.overhead") = rayDirect / ring
    project(run, "sql.st_contains_xy", pts, n, G.st_contains_xy(poly, col("lon"), col("lat")))
    val tile = project(run, "sql.st_tile", pts, n, G.st_tile(col("lon"), col("lat"), 12))
    run.metrics("sql.st_tile.overhead") = tileDirect / tile
    project(run, "sql.tile_parent", pts, n, G.tile_parent(col("cell"), lit(2)))
    val few = pts.where(col("lon") < 2.2)
    val nFew = few.count()
    run.metrics("sql.tiles_for.rows_per_s") = run.tracer.span("kernel.tiles_for", "kernels") {
      nFew / timed(2)(few.select(G.tiles_for(
        G.st_makebbox(col("lon"), col("lat"), col("lon") + 0.01, col("lat") + 0.01), array(lit(14)))
        .as(Seq("c", "x", "y", "z"))).agg(max(col("c"))).collect()) / Main.Cores
    }._1
    pts.unpersist(blocking = true)
  }

  /** sql/ops text, sql vector and io */
  def text(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._

    // text over cached generated docs
    val r = new scala.util.Random(run.seed)
    val words = (0 until 3000).map(i => s"w${i}x${r.nextInt(97)}")
    val texts = (0 until 1200).map(_ => Seq.fill(60 + r.nextInt(80))(words(r.nextInt(words.size))).mkString(" "))
    val (docs, nDocs) = cached(texts.toDF("text")
      .withColumn("html", encode(concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>")), "UTF-8"))
      .withColumn("sig", expr("minhash128(text)")).repartition(Main.Cores * 2))
    project(run, "sql.minhash128", docs, nDocs, expr("minhash128(text)"))
    project(run, "sql.simhash64", docs, nDocs, expr("simhash64(text)"))
    project(run, "sql.sig_matches", docs, nDocs, TextOps.sigMatches(col("sig"), reverse(col("sig"))))
    project(run, "ops.band_keys", docs, nDocs, size(TextOps.bandKeys(col("sig"))))
    project(run, "ops.extract_text", docs, nDocs, length(ExtractText.extract(col("html"))))
    val (ws, nW) = cached(docs.select(explode(split(col("text"), " ")).as("w")))
    run.metrics("sql.cm_sketch_agg.rows_per_s") = run.tracer.span("kernel.cm_sketch_agg", "kernels") {
      nW / timed(2)(ws.agg(expr("cm_sketch_agg(w)")).collect()) / Main.Cores
    }._1
    ws.unpersist(blocking = true); docs.unpersist(blocking = true)

    // vector kernels over cached float embeddings
    val dim = graft.queries.EmbQueries.Dim
    val (emb, nEmb) = cached(spark.range(0L, 100000L, 1L, Main.Cores * 2).select(
      array((0 until dim).map(i =>
        ((pmod(xxhash64(col("id"), lit(i + run.seed)), lit(2001L)) - 1000) / 1000.0).cast("float")): _*).as("e")))
    project(run, "sql.vec_dot", emb, nEmb, call_function("vec_dot", col("e"), col("e")))
    project(run, "sql.jl_project", emb, nEmb,
      call_function("jl_project", col("e"), typedLit(Array.fill(dim)(1.0)))(0))
    project(run, "sql.plane_dots", emb, nEmb, call_function("plane_dots", col("e"), lit(0), lit(16))(0))
    emb.unpersist(blocking = true)

    // io: one archive parsed on one thread, and a directory read at local[4]
    val dir = new java.io.File(run.workDir, "kernel-warc")
    dir.mkdirs()
    texts.grouped(300).zipWithIndex.foreach { case (part, f) =>
      graft.io.WarcIO.writeLocal(part.zipWithIndex.iterator.map { case (t, i) =>
        ("response", s"<urn:uuid:$f-$i>", s"https://k.example/$f/$i", "2024-03-01T12:00:00Z",
          "text/html", s"<html><body><p>$t</p></body></html>".getBytes("UTF-8"))
      }, new java.io.File(dir, f"k-$f%02d.warc.gz"))
    }
    val archives = dir.listFiles().toSeq.sortBy(_.getName).map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath))
    val parseWall = run.tracer.span("kernel.io.warc_parse", "kernels")(timed(3) {
      archives.foreach { case (name, bytes) => graft.io.WarcIO.parseAll(name, bytes).foreach(_ => ()) }
    })._1
    run.metrics("io.warc_parse_mb_per_s") = archives.map(_._2.length).sum / 1e6 / parseWall
    val readWall = run.tracer.span("kernel.io.warc_read", "kernels")(timed(2) {
      graft.io.WarcIO.read(spark, dir.getAbsolutePath).agg(sum(length(col("payload")))).collect()
    })._1
    run.metrics("io.warc_read_rows_per_s") = texts.size / readWall
  }
}
