package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.jobs.{PyramidJob, SpatialJoinJob}
import graft.queries.JoinQueries
import graft.sql.{functions => G}

/** Spatial workload: a seeded `lineitem` (order key, line number) from
  * which `Pages.volumePages` derives hash points, 10 % of them in one hot
  * z12 cell. The broadcast PIP join job, the salted cell-equi shuffle join
  * and the z12→z6 pyramid run on fresh lakes: scans, point derivation,
  * point-in-polygon tests, the shuffle and lake commits do the work, the
  * text layers are idle. */
object Spatial extends Workload {

  /** orders generated; each has 1–7 lines (≈ 4 on average), so ≈ 10⁶
    * points. Tasks fill about 40 % of a warm pass's core time at this
    * size, against about 20 % at 2.5·10⁵ points (fixed per-job costs
    * dominate) and 60 % at 6·10⁶, whose runs no longer fit the budget. */
  def orders(run: Run): Long = if (run.small) 5000L else 250000L

  /** input files written (several, so the scan runs in parallel) */
  val Files = 4

  def kernels(run: Run): Unit = Kernels.geometry(run)

  def generate(run: Run, dir: String): Unit = {
    val seed = run.seed
    run.spark.range(0L, orders(run), 1L, Files)
      .select((col("id") * 10 + pmod(xxhash64(col("id"), lit(seed)), lit(10L))).as("l_orderkey"),
        (pmod(xxhash64(col("id"), lit(seed + 1)), lit(7L)) + 1).cast("int").as("n"))
      .select(col("l_orderkey"), explode(sequence(lit(1), col("n"))).as("l_linenumber"))
      .write.parquet(s"$dir/lineitem.parquet")
  }

  private def rows(df: DataFrame): Seq[mutable.LinkedHashMap[String, Any]] =
    df.collect().toSeq.map { r: Row =>
      mutable.LinkedHashMap(df.columns.toSeq.map(c => c -> (r.getAs[Any](c) match {
        case b: java.lang.Boolean => b.booleanValue()
        case n: java.lang.Number => n.longValue()
        case other => other
      })): _*)
    }

  /** One pass of the three calls on fresh lakes; op names carry `tag`. */
  def pass(run: Run, in: String, phase: String, tag: String): Double = {
    def epilogue(op: String): Unit = {
      org.apache.spark.sql.GraftCheckpoints.releaseAll()
      val left = org.apache.spark.graft.BenchProbes.persistedRddCount(run.spark.sparkContext)
      run.check(op, "leak", left == 0, s"$left persisted RDDs left after releaseAll")
      org.apache.spark.graft.BenchProbes.purgeShuffles(run.spark.sparkContext)
    }
    val t0 = System.nanoTime()
    run.tracer.span(s"pass.$tag", phase) {
      run.op(s"$tag/spatial_join", phase) {
        rows(SpatialJoinJob.run(run.spark, in, run.dir(s"$tag/join-lake")))
      }.foreach(r => run.outputs(s"$tag/spatial_join") = r)
      epilogue(s"$tag/spatial_join")
      run.op(s"$tag/shuffle_pip", phase) {
        rows(JoinQueries.shufflePip(run.spark, in))
      }.foreach(r => run.outputs(s"$tag/shuffle_pip") = r)
      epilogue(s"$tag/shuffle_pip")
      run.op(s"$tag/pyramid", phase) {
        rows(PyramidJob.run(run.spark, in, run.dir(s"$tag/pyramid-lake"))
          .select(G.tile_z(col("cell")).as("z"), G.tile_x(col("cell")).as("x"),
            G.tile_y(col("cell")).as("y"), col("n")))
      }.foreach(r => run.outputs(s"$tag/pyramid") = r)
      epilogue(s"$tag/pyramid")
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** The DuckDB oracle comparison runs in run.py (q02 for the join job,
    * q40 for the shuffle join, q07's z6 rows for the pyramid); here the
    * warm passes must reproduce the cold pass exactly. */
  def check(run: Run, inputDir: String): Unit = {
    run.outputs("oracle_sql") = Seq("q02_pip_join", "q40_shuffle_pip", "q07_pyramid")
      .map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
    run.info("spatial.lineitem_glob") = s"$inputDir/lineitem.parquet/*.parquet"
    for (i <- 1 to run.info("warm_passes").asInstanceOf[Int]; op <- Seq("spatial_join", "shuffle_pip", "pyramid")) {
      val w = s"warm$i/$op"
      run.check(w, "warm_equals_cold", run.outputs.get(w) == run.outputs.get(s"cold/$op"), s"$w differs from the cold pass")
    }
  }

  override def traced(run: Run, inputDir: String, listener: PhaseListener): Unit = {
    val pages = run.spark.read.parquet(s"$inputDir/lineitem.parquet").count().toDouble
    def wall(op: String) = warmWall(run, op)
    def rate(n: Double, w: Double) = if (w > 0) n / w else 0.0
    run.metrics("jobs.spatial_join_s") = wall("spatial_join")
    run.metrics("jobs.shuffle_pip_s") = wall("shuffle_pip")
    run.metrics("jobs.pyramid_s") = wall("pyramid")
    run.metrics("spatial.join_rows_per_s") = rate(pages, wall("spatial_join"))
    run.metrics("spatial.shuffle_join_rows_per_s") = rate(pages, wall("shuffle_pip"))
    val lakeJoin = s"${run.workDir}/warm1/join-lake"
    val lakePyr = s"${run.workDir}/warm1/pyramid-lake"
    val pyrStages = Seq(12, 10, 8, 6).map(z => s"pyramid_z$z" -> s"pyramid.z$z")
    Lakes.stages(run, lakePyr, pyrStages, run.ops.find(_.name == "warm1/pyramid").map(_.startMs).getOrElse(0L))
    val tileRows = pyrStages.map { case (_, short) => run.metrics.getOrElse(s"lake.$short.rows", 0.0) }.sum
    run.metrics("spatial.tiles_per_s") = rate(tileRows, wall("pyramid"))
    Lakes.stages(run, lakeJoin, Seq("s1_attach_cells" -> "sjj.attach", "s2_pip_join" -> "sjj.join",
      "s3_agg" -> "sjj.agg"), run.ops.find(_.name == "warm1/spatial_join").map(_.startMs).getOrElse(0L))
    Lakes.sizes(run, "spatial", Seq(lakeJoin, lakePyr))
  }
}
