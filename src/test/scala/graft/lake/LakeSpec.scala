package graft.lake

import graft.sql.SparkTestBase
import graft.jobs.{KnnJob, PyramidJob, SpatialJoinJob}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Checkpoint/resume + lineage contracts (north rule; SURVEY.md §2.11). */
class LakeSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def freshRoot(name: String): String = {
    val p = Files.createTempDirectory(s"lake_$name")
    p.toString
  }

  test("stage commit is atomic and resumable: second run reads, not recomputes") {
    val root = freshRoot("resume")
    val lake = new LakeTable(root)
    var builds = 0
    def run() = StageRunner.stage(spark, lake, "s1") {
      builds += 1
      spark.range(100).toDF("id")
    }
    assert(run().count() === 100)
    assert(builds === 1)
    assert(run().count() === 100)
    assert(builds === 1) // resumed from manifest, no recompute
    assert(lake.manifest("s1").get.contains("\"row_count\":\"100\""))
  }

  test("interleaved committers: exactly one wins the CAS, the loser fails loudly and retries onto a fresh version") {
    val root = freshRoot("cas")
    val lake = new LakeTable(root)
    assert(lake.commit("s", spark.range(10).toDF("id"), Map.empty) === 1)
    // writer A starts from v1… and writer B lands v2 while A is in flight
    assert(lake.commit("s", spark.range(20).toDF("id"), Map.empty) === 2)
    val e = intercept[ConcurrentCommitException] {
      lake.commitFrom("s", spark.range(30).toDF("id"), Map.empty,
        expectedParent = 1) // A's stale view of the pointer
    }
    assert(e.stage == "s" && e.current == 2 && e.attempted == 3)
    // the winner was not clobbered: pointer still serves B's snapshot…
    assert(lake.currentVersion("s").contains(2))
    assert(lake.read(spark, "s").count() === 20)
    // …and the loser's DATA files are intact for inspection/retry — but it
    // gets no versioned manifest (readAt/time-travel only sees committed
    // snapshots; a phantom manifest would poison rollback/versions/vacuum)
    assert(spark.read.parquet(s"$root/s/data_v${e.attempted}").count() === 30)
    intercept[IllegalArgumentException] {
      lake.readAt(spark, "s", e.attempted)
    }
    // the loser retries against the CURRENT snapshot and wins a new version
    val v = lake.commit("s", spark.range(30).toDF("id"), Map.empty)
    assert(v > e.attempted)
    assert(lake.currentVersion("s").contains(v))
    assert(lake.read(spark, "s").count() === 30)
  }

  test("a CAS loser leaves NO versioned manifest: versions/readAt/rollback never treat a never-committed snapshot as evidence") {
    val root = freshRoot("casphantom")
    val lake = new LakeTable(root)
    assert(lake.commit("s", spark.range(10).toDF("id"), Map.empty) === 1)
    assert(lake.commit("s", spark.range(20).toDF("id"), Map.empty) === 2)
    val e = intercept[ConcurrentCommitException] {
      lake.commitFrom("s", spark.range(30).toDF("id"), Map.empty,
        expectedParent = 1)
    }
    // the loser-claims-lower shape of this hazard: had the loser claimed a
    // version BELOW a later winner's and still written _manifest_v<N>.json,
    // rollback("s", N) would re-point the table at a snapshot that was
    // never committed and vacuum's retention window would count it. The
    // invariant: the committed version list is exactly what commit() won.
    assert(lake.versions("s") === Seq(1, 2), "no phantom manifest")
    intercept[IllegalArgumentException] { lake.rollback("s", e.attempted) }
    assert(lake.currentVersion("s").contains(2))
  }

  test("commitAppend folds in a commit landing between its manifest read and its CAS (no lost update)") {
    val root = freshRoot("castoctou")
    @volatile var fired = false
    val lake: LakeTable = new LakeTable(root) {
      override protected def onAppendBeforeCas(): Unit =
        if (!fired) {
          fired = true
          // a concurrent writer REPLACES the table inside the append's
          // manifest-read → CAS window; under the old two-read shape
          // (manifest, then currentVersion) the append's CAS passed
          // against the new pointer while its data_paths/row_count came
          // from the stale manifest — the interloper's rows vanished.
          new LakeTable(root)
            .commit("s", spark.range(500, 520).toDF("id"), Map.empty)
          ()
        }
    }
    assert(lake.commit("s", spark.range(0, 10).toDF("id"), Map.empty) === 1)
    lake.commitAppend("s", spark.range(100, 140).toDF("id"), Map.empty)
    val ids = lake.read(spark, "s").collect().map(_.getLong(0)).sorted
    assert(ids.length === 60, s"20 interloper + 40 delta rows, got ${ids.length}")
    assert(ids.count(i => i >= 500 && i < 520) === 20, "interloper commit survived")
    assert(ids.count(i => i >= 100 && i < 140) === 40, "append delta landed")
    assert(lake.rowCount("s").contains(60L))
  }

  test("two concurrent appends both land: the loser's metadata-only retry folds onto the winner") {
    val root = freshRoot("casappend")
    val lake = new LakeTable(root)
    lake.commit("s", spark.range(0, 10).toDF("id"), Map.empty)
    val gun = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def appender(lo: Int, hi: Int) = new Thread(() => {
      try { gun.await(); lake.commitAppend("s", spark.range(lo, hi).toDF("id"), Map.empty); () }
      catch { case t: Throwable => errs.add(t); () }
    })
    val ts = Seq(appender(100, 140), appender(200, 260))
    ts.foreach(_.start()); gun.countDown(); ts.foreach(_.join())
    assert(errs.isEmpty, s"appends must both succeed: ${errs.toArray.mkString}")
    // NEITHER delta was lost — the contract VERDICT r4 #4 demanded
    val ids = lake.read(spark, "s").collect().map(_.getLong(0)).sorted
    assert(ids.length === 110, s"10 base + 40 + 60 rows, got ${ids.length}")
    assert(ids.count(i => i >= 100 && i < 140) === 40)
    assert(ids.count(i => i >= 200 && i < 260) === 60)
    assert(lake.rowCount("s").contains(110L))
  }

  test("partial write without manifest is invisible and retried") {
    val root = freshRoot("partial")
    val lake = new LakeTable(root)
    // simulate a crashed writer: data dir exists, no manifest
    spark.range(5).toDF("id").write.parquet(s"$root/s1/data")
    assert(!lake.isCommitted("s1"))
    val out = StageRunner.stage(spark, lake, "s1")(spark.range(7).toDF("id"))
    assert(out.count() === 7)
    assert(lake.isCommitted("s1"))
  }

  test("stage commit evaluates the build plan exactly ONCE (VERDICT r1 #7)") {
    val root = freshRoot("onepass")
    val lake = new LakeTable(root)
    val acc = spark.sparkContext.longAccumulator("row_evals")
    val bump = udf { (x: Long) => acc.add(1); x }
    StageRunner.stage(spark, lake, "s1") {
      spark.range(100).toDF("id").select(bump(col("id")).as("id"))
    }
    // r1 code evaluated the plan again for lineage → 200+ here
    assert(acc.value === 100L)
    // and lineage checksums were taken over the committed bytes
    val total = lake.readLineage(spark, "s1")
      .agg(sum(col("output_rows"))).collect().head.getLong(0)
    assert(total === 100L)
  }

  test("stage commit reads the data at most once (no read/compute amplification)") {
    // job COUNT is a fragile proxy under AQE (each shuffle stage surfaces
    // as its own job); the invariant that matters at 100 TB is BYTES:
    // one write of the plan + at most one scan of the committed files.
    val root = freshRoot("bytes")
    val lake = new LakeTable(root)
    val (_, stats) = withJobStats {
      StageRunner.stage(spark, lake, "s1") {
        spark.range(200000).toDF("id")
          .withColumn("payload", md5(col("id").cast("string")))
          .repartition(4)
      }
    }
    val bytesRead = stats.bytesRead
    val dataSize = Files.walk(Paths.get(s"$root/s1/data_v1")).toArray
      .map(_.asInstanceOf[java.nio.file.Path].toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).sum
    assert(dataSize > 0)
    // committed-scan ≤ ~1.2× the file size (footer re-reads allowed);
    // the r1 code re-evaluated + re-read → ≥2× here
    assert(bytesRead <= (dataSize * 1.5).toLong,
      s"commit read $bytesRead bytes for a $dataSize-byte stage")
  }

  /** xor of `xxhash64(<all columns>)` over a frame's rows. */
  private def xorHash(df: org.apache.spark.sql.DataFrame): Long =
    df.agg(bit_xor(xxhash64(df.columns.map(col).toSeq: _*))).head().getLong(0)

  private def lineageXor(lake: LakeTable, stage: String): Long =
    lake.readLineage(spark, stage).collect().map(_.getAs[Long]("checksum"))
      .foldLeft(0L)(_ ^ _)

  private def lineageRows(lake: LakeTable, stage: String): Long =
    lake.readLineage(spark, stage).collect().map(_.getAs[Long]("output_rows")).sum

  test("write-task lineage describes the committed rows: checksums xor to bit_xor(xxhash64(*)), rows sum to row_count") {
    val root = freshRoot("linsum")
    val lake = new LakeTable(root)
    def mixed(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id")
      .withColumn("name", when(col("id") % 7 =!= 0, concat(lit("n"), col("id").cast("string"))))
      .withColumn("x", col("id") * 0.25)
      .withColumn("xs", array(col("id"), col("id") + 1))
      .repartition(4, col("id"))
    lake.commit("s", mixed(0, 1000), Map.empty)
    assert(lineageXor(lake, "s") === xorHash(lake.read(spark, "s")))
    assert(lineageRows(lake, "s") === 1000L)
    assert(lake.rowCount("s").contains(1000L))
    // an append's lineage covers its delta only; row_count is the total.
    // xor cancels the parent's rows out of the new snapshot's checksum.
    val v = lake.commitAppend("s", mixed(5000, 5300), Map.empty)
    assert(lineageXor(lake, "s") ===
      (xorHash(lake.read(spark, "s")) ^ xorHash(lake.readAt(spark, "s", v - 1))))
    assert(lineageRows(lake, "s") === 300L)
    assert(lake.rowCount("s").contains(1300L))
  }

  test("a fresh stage and its resumed rerun return equal schemas and rows") {
    val root = freshRoot("schema")
    val lake = new LakeTable(root)
    var builds = 0
    def run() = StageRunner.stage(spark, lake, "s1") {
      builds += 1
      spark.range(50).toDF("id")
        .withColumn("tag", when(col("id") % 3 === 0, lit("t")))
        .withColumn("pt", struct(col("id").cast("double").as("x"), lit(1.5).as("y")))
        .withColumn("xs", array(col("id"), lit(null).cast("long")))
        .withColumn("kv", map(col("id").cast("string"), col("id") * 2))
    }
    val fresh = run()
    val resumed = run()
    assert(builds === 1)
    assert(fresh.schema === resumed.schema)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().map(_.toSeq).toSeq
    assert(rows(fresh) === rows(resumed))
  }

  test("a stage commit reads 0 bytes of committed data") {
    val root = freshRoot("zeroread")
    val lake = new LakeTable(root)
    val (_, stats) = withJobStats {
      StageRunner.stage(spark, lake, "s1") {
        spark.range(200000).toDF("id")
          .withColumn("payload", md5(col("id").cast("string")))
          .repartition(4)
      }
    }
    assert(lake.rowCount("s1").contains(200000L))
    assert(stats.bytesRead === 0L,
      s"the commit read ${stats.bytesRead} bytes back from what it wrote")
  }

  test("snapshot versioning: recommit → v2, time-travel readAt, atomic rollback") {
    val root = freshRoot("snap")
    val lake = new LakeTable(root)
    lake.commit("s1", spark.range(10).toDF("id"), Map.empty)
    lake.commit("s1", spark.range(25).toDF("id"), Map.empty)
    assert(lake.versions("s1") === Seq(1, 2))
    assert(lake.read(spark, "s1").count() === 25)        // current = v2
    assert(lake.readAt(spark, "s1", 1).count() === 10)   // time travel
    assert(lake.manifest("s1").get.contains("\"version\":\"2\""))
    lake.rollback("s1", 1)
    assert(lake.read(spark, "s1").count() === 10)        // pointer moved
    assert(lake.readLineage(spark, "s1")
      .agg(sum(col("output_rows"))).collect().head.getLong(0) === 10L)
    assert(lake.versions("s1") === Seq(1, 2))            // v2 files retained
    lake.rollback("s1", 2)                               // rollback reversible
    assert(lake.read(spark, "s1").count() === 25)
    intercept[IllegalArgumentException] { lake.readAt(spark, "s1", 9) }
  }

  test("lineage rows carry per-partition counts and checksums") {
    val root = freshRoot("lineage")
    val lake = new LakeTable(root)
    StageRunner.stage(spark, lake, "s1") {
      spark.range(1000).toDF("id").repartition(4)
    }
    val lin = lake.readLineage(spark, "s1")
    assert(lin.columns.toSet === Set("partition_id", "output_rows", "checksum", "stage", "wall_ms"))
    val total = lin.agg(sum(col("output_rows"))).collect().head.getLong(0)
    assert(total === 1000L)
    assert(lin.select("stage").distinct().collect().head.getString(0) === "s1")
  }

  test("spatial join job: stages commit; rerun resumes; result matches q02 oracle shape") {
    val root = freshRoot("join")
    val out = SpatialJoinJob.run(spark, sf, root)
    val rows = out.orderBy("poly_id").collect()
    assert(rows.length === 6)
    // poly 6 captures every hot row (sf0.001: 481 hot pages inside)
    assert(rows.last.getAs[Long]("n_hot") === rows.last.getAs[Long]("n"))
    // all three stages committed
    val lake = new LakeTable(root)
    assert(Seq("s1_attach_cells", "s2_pip_join", "s3_agg").forall(lake.isCommitted))
    // resume: rerun returns same rows without recomputation
    val again = SpatialJoinJob.run(spark, sf, root).orderBy("poly_id").collect()
    assert(again.map(_.toSeq).toSeq === rows.map(_.toSeq).toSeq)
  }

  test("spatial join job: shuffle plan (broadcast off) rows equal the broadcast plan's") {
    def rows(root: String) =
      SpatialJoinJob.run(spark, sf, root).orderBy("poly_id").collect().map(_.toSeq).toSeq
    val broadcastRows = rows(freshRoot("bc"))
    val shuffledRows =
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(rows(freshRoot("shuffled")))
    assert(broadcastRows.length === 6)
    assert(shuffledRows === broadcastRows)
  }

  test("iterative kNN job matches the exact oracle ranking") {
    val root = freshRoot("knn")
    val probes = graft.queries.GeoQueries.knnQueries
    val out = KnnJob.run(spark, sf, probes, k = 10, zoom = 6, lakeRoot = root)
    val got = out.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    // exact reference ranking via full scan
    import graft.model.Pages
    val pages = Pages.volumePages(spark, sf).select("pid", "lon", "lat").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val expected = probes.flatMap { case (q, qx, qy) =>
      pages.map { case (pid, x, y) =>
        (q, pid, (x - qx) * (x - qx) + (y - qy) * (y - qy))
      }.sortBy { case (_, pid, d) => (d, pid) }.take(10).zipWithIndex
        .map { case ((qq, pid, _), i) => (qq, i + 1, pid) }
    }
    assert(got.sorted.toSeq === expected.sorted)
  }

  test("DataFrame-native kNN: 10^4-probe TABLE matches Spark brute force (VERDICT r1 #8)") {
    import org.apache.spark.sql.expressions.Window
    val root = freshRoot("knn10k")
    val probes = spark.range(10000).select(
      col("id").cast("int").as("qid"),
      (pmod(col("id") * 2654435761L, lit(360000000L)) / 1e6 - 180.0).as("qlon"),
      (pmod(col("id") * 40503L + 2654435769L, lit(170000000L)) / 1e6 - 85.0).as("qlat"))
    val out = KnnJob.runProbes(spark, sf, probes, k = 3, zoom = 6, lakeRoot = root)
    val got = out.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted
    val pages = graft.model.Pages.volumePages(spark, sf).select("pid", "lon", "lat")
    val dsq = (col("lon") - col("qlon")) * (col("lon") - col("qlon")) +
      (col("lat") - col("qlat")) * (col("lat") - col("qlat"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dsq"), col("pid"))
    val exp = pages.crossJoin(broadcast(probes))
      .select(col("qid"), col("pid"), dsq.as("dsq"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("pid"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted
    assert(got.toSeq === exp.toSeq)
  }

  test("pyramid job: per-level stages resume; totals conserved") {
    val root = freshRoot("pyr")
    val top = PyramidJob.run(spark, sf, root)
    val lake = new LakeTable(root)
    assert(Seq(12, 10, 8, 6).forall(z => lake.isCommitted(s"pyramid_z$z")))
    val base = lake.read(spark, "pyramid_z12").agg(sum("n")).collect().head.getLong(0)
    val topN = top.agg(sum("n")).collect().head.getLong(0)
    assert(base === topN) // rollup conserves counts
  }
}
