package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.WarcIO
import graft.jobs.{TrainingDataJob, WarcPipeline}
import graft.lake.LakeTable
import graft.streaming.{SketchStreams, WarcStreams}

/** One generated crawl document. */
final case class GenDoc(url: String, text: String, kind: String)

/** The crawl pipeline: seeded `.warc.gz` dumps through the crawl-to-store
  * jobs — a full run on a fresh lake, its resume, the incremental init
  * plus daily appends, and the daily dumps drained through the two
  * streams. WARC parsing, MinHash/LSH, lake commits and micro-batches do
  * the work. Each call costs seconds of fixed Spark-job overhead at any
  * input size, so a cold plus warm pass does not fit the run budget as a
  * workload of its own: it runs once, with its output checks, inside the
  * catalog workload's traced run and yields per-layer metrics. */
object Crawl {

  /** (initial docs, docs per daily dump, daily dumps, files per dump) */
  def sizes(run: Run): (Int, Int, Int, Int) =
    if (run.small) (600, 150, 1, 2) else (1000, 300, 1, 4)

  // shares of the initial dump; the rest are unique docs
  val ExactShare = 0.08
  val NearShare = 0.12
  val RejectShare = 0.08
  val ContamShare = 0.03

  val Stop: Seq[String] = graft.queries.QualityQueries.StopWords

  /** doc identity exactly as `WarcPipeline.ingest` derives it (Spark's
    * xxhash64 with its default seed over the url's UTF-8 bytes). */
  def docId(url: String): Long = {
    val b = url.getBytes("UTF-8")
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L) & Long.MaxValue
  }

  def isEval(url: String): Boolean = docId(url) % graft.queries.QualityQueries.EvalMod == 0

  /** Word list: the words of the committed sf0.01 documents extended with
    * seeded syllable words, so unrelated docs share few 8-char shingles
    * (the documents' own ~40-word vocabulary would make every doc a
    * near-duplicate of every other). */
  def vocab(run: Run): IndexedSeq[String] = {
    val base = run.spark.read.parquet(s"${run.dataDir}/sf0.01/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w")).distinct()
      .collect().map(_.getString(0)).filter(w => w.nonEmpty && !Stop.contains(w)).sorted.toIndexedSeq
    val syll = Seq("ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su", "do", "ga", "hi", "be", "fu")
    val r = new scala.util.Random(run.seed)
    val extra = (0 until 6000).map { _ =>
      base(r.nextInt(base.size)) + (0 until 2 + r.nextInt(2)).map(_ => syll(r.nextInt(syll.size))).mkString
    }
    (base ++ extra).distinct
  }

  final class Gen(run: Run) {
    val words: IndexedSeq[String] = vocab(run)
    val r = new scala.util.Random(run.seed * 31 + 7)
    private var serial = 0

    def word(): String =
      if (r.nextDouble() < 0.3) Stop(r.nextInt(Stop.size))
      else words(math.min(words.size - 1, (words.size * math.pow(r.nextDouble(), 2.0)).toInt))

    def text(): String = Seq.fill(50 + r.nextInt(100))(word()).mkString(" ")

    def url(): String = { serial += 1; s"https://site${r.nextInt(400)}.example/${run.seed}/$serial" }

    /** a few non-stopword substitutions: keeps ≥90/128 MinHash matches
      * for docs of this length (checked and reported after the run). */
    def nearCopy(t: String): String = {
      val a = t.split(" ")
      (0 until 1 + r.nextInt(2)).foreach { _ =>
        a(r.nextInt(a.length)) = words(r.nextInt(words.size))
      }
      a.mkString(" ")
    }

    /** repetitive, stopword-free, digit-heavy: below the q73 quality threshold. */
    def reject(): String = {
      val ws = Seq.fill(3)(words(r.nextInt(words.size)) + r.nextInt(1000))
      Seq.fill(20 + r.nextInt(20))(ws(r.nextInt(3))).mkString(" ")
    }

    def dump(n: Int, earlier: IndexedSeq[GenDoc], shares: Boolean): IndexedSeq[GenDoc] = {
      val out = mutable.ArrayBuffer.empty[GenDoc]
      def pickUnique(): Option[GenDoc] = {
        val pool = if (out.exists(_.kind == "unique")) out.filter(_.kind == "unique") else earlier
        if (pool.isEmpty) None else Some(pool(r.nextInt(pool.size)))
      }
      while (out.size < n) {
        val u = r.nextDouble()
        val d =
          if (u < ExactShare) pickUnique().map(o => GenDoc(url(), o.text, "exact"))
          else if (u < ExactShare + NearShare) pickUnique().map(o => GenDoc(url(), nearCopy(o.text), "near"))
          else if (u < ExactShare + NearShare + RejectShare) Some(GenDoc(url(), reject(), "reject"))
          else if (shares && u < ExactShare + NearShare + RejectShare + ContamShare) {
            val evals = out.filter(d => d.kind == "unique" && isEval(d.url))
            if (evals.isEmpty) None
            else {
              val e = evals(r.nextInt(evals.size)).text.split(" ")
              val at = r.nextInt(math.max(1, e.length - 8))
              val span = e.slice(at, at + 8).mkString(" ")
              val u2 = Iterator.continually(url()).find(x => !isEval(x)).get
              Some(GenDoc(u2, text() + " " + span + " " + text(), "contaminated"))
            }
          }
          else Some(GenDoc(url(), text(), "unique"))
        d.foreach(out += _)
      }
      out.toIndexedSeq
    }
  }

  /** Every document of every dump, regenerated from the seed. */
  def docs(run: Run): (IndexedSeq[GenDoc], Seq[IndexedSeq[GenDoc]]) = {
    val (n0, nDay, days, _) = sizes(run)
    val g = new Gen(run)
    val initial = g.dump(n0, IndexedSeq.empty, shares = true)
    val daily = (0 until days).map { _ =>
      val fresh = g.dump(nDay - nDay / 10, initial, shares = false)
      // recrawls: same url, same text as an initial doc
      val recrawl = IndexedSeq.fill(nDay / 10)(initial(g.r.nextInt(initial.size))).map(_.copy(kind = "recrawl"))
      g.r.shuffle(fresh ++ recrawl)
    }
    (initial, daily)
  }

  def html(text: String, i: Int): String =
    s"<html><body><p>$text</p><script>var t=$i;</script></body></html>"

  private def writeDump(ds: IndexedSeq[GenDoc], dir: java.io.File, files: Int, day: Int): Long = {
    dir.mkdirs()
    var bytes = 0L
    ds.zipWithIndex.groupBy(_._2 % files).toSeq.sortBy(_._1).foreach { case (f, part) =>
      val recs = part.map { case (d, i) =>
        val body = html(d.text, i).getBytes("UTF-8")
        bytes += body.length
        val head = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n".getBytes("UTF-8")
        val id = java.util.UUID.nameUUIDFromBytes(s"$day/$i/${d.url}".getBytes("UTF-8"))
        ("response", s"<urn:uuid:$id>", d.url, f"2024-03-${day + 1}%02dT12:00:00Z",
          "application/http; msgtype=response", head ++ body)
      }
      WarcIO.writeLocal(recs.iterator, new java.io.File(dir, f"part-$f%03d.warc.gz"))
    }
    bytes
  }

  private def generate(run: Run, dir: String): Unit = {
    val (initial, daily) = docs(run)
    val files = sizes(run)._4
    var bytes = writeDump(initial, new java.io.File(dir, "initial"), files, 0)
    daily.zipWithIndex.foreach { case (d, k) =>
      bytes += writeDump(d, new java.io.File(dir, s"day$k"), math.max(1, files / 2), k + 1)
    }
    run.info("crawl.html_bytes") = bytes
  }

  /** Every crawl operation once, on fresh lakes, as the "crawl" phase. */
  private def pass(run: Run, in: String): Unit = {
    val (tag, phase) = ("crawl", "crawl")
    val days = sizes(run)._3
    val lake = s"${run.workDir}/$tag/lake"
    val store = s"${run.workDir}/$tag/store"
    val lake2 = s"${run.workDir}/$tag/inc-lake"
    val store2 = s"${run.workDir}/$tag/inc-store"
    val drop = run.dir(s"$tag/drop")
    def epilogue(): Unit = {
      org.apache.spark.sql.GraftCheckpoints.releaseAll()
      org.apache.spark.graft.BenchProbes.purgeShuffles(run.spark.sparkContext)
    }
    def leakCheck(op: String): Unit = {
      val left = org.apache.spark.graft.BenchProbes.persistedRddCount(run.spark.sparkContext)
      run.check(op, "leak", left == 0, s"$left persisted RDDs left after releaseAll")
    }
    run.tracer.span(s"pass.$tag", phase) {
      val first = run.op(s"$tag/run_from_dump", phase) {
        WarcPipeline.runFromDump(run.spark, s"$in/initial", lake, store).count()
      }
      epilogue(); leakCheck(s"$tag/run_from_dump")
      val success = new java.io.File(store, "_SUCCESS")
      val mtime = success.lastModified()
      val again = run.op(s"$tag/resume", phase) {
        WarcPipeline.runFromDump(run.spark, s"$in/initial", lake, store).count()
      }
      epilogue(); leakCheck(s"$tag/resume")
      run.check(s"$tag/resume", "resume_count", first.isDefined && first == again,
        s"resume returned $again rows, first run $first")
      run.check(s"$tag/resume", "resume_success", success.exists() && success.lastModified() == mtime,
        "resume rewrote the store's _SUCCESS marker")
      run.info(s"$tag.store_rows") = first.getOrElse(-1L)

      run.op(s"$tag/init_from_dump", phase) {
        WarcPipeline.initFromDump(run.spark, s"$in/initial", lake2, store2).count()
      }
      epilogue(); leakCheck(s"$tag/init_from_dump")
      (0 until days).foreach { k =>
        run.op(s"$tag/append_$k", phase) {
          WarcPipeline.appendDump(run.spark, s"$in/day$k", lake2, store2, Some(k.toLong)).count()
        }
        epilogue(); leakCheck(s"$tag/append_$k")
      }

      (0 until days).foreach { k =>
        Option(new java.io.File(s"$in/day$k").listFiles()).getOrElse(Array.empty).foreach { f =>
          java.nio.file.Files.copy(f.toPath, new java.io.File(drop, s"day$k-${f.getName}").toPath)
        }
      }
      val progress = run.op(s"$tag/stream", phase)(drain(run, drop, s"${run.workDir}/$tag"))
      epilogue(); leakCheck(s"$tag/stream")
      progress.foreach { case (ingestBatch, sketchBatch) =>
        run.info(s"$tag.stream_ingest_batch_s") = ingestBatch
        run.info(s"$tag.stream_sketch_batch_s") = sketchBatch
      }
    }
  }

  /** Drains the drop directory through `WarcStreams.ingestAvailableNow`,
    * then folds the extracted text into a `SketchStreams` word sketch.
    * Returns the mean micro-batch wall of each stream. */
  private def drain(run: Run, drop: String, base: String): (Double, Double) = {
    def batchS(q: org.apache.spark.sql.streaming.StreamingQuery): Double = {
      val ps = q.recentProgress.filter(_.numInputRows > 0)
      if (ps.isEmpty) 0.0
      else ps.map(p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)).sum / ps.length / 1000.0
    }
    val pagesOut = s"$base/stream-pages"
    val ing = WarcStreams.ingestAvailableNow(run.spark, drop, pagesOut, s"$base/ckpt-ingest")
    ing.awaitTermination()
    ing.exception.foreach(e => throw e)
    val schema = run.spark.read.parquet(pagesOut).schema
    val texts = run.spark.readStream.schema(schema).parquet(pagesOut)
      .select(graft.ops.ExtractText.extractText(
        WarcPipeline.httpBody(col("html"), lit("application/http; msgtype=response"))).as("text"))
    val sk = SketchStreams.wordSketchSink(texts, new SketchStreams.SketchStore(new java.io.File(s"$base/sketch")),
      s"$base/ckpt-sketch")
    sk.awaitTermination()
    sk.exception.foreach(e => throw e)
    (batchS(ing), batchS(sk))
  }

  private def check(run: Run, inputDir: String, tag: String): Unit = {
    import run.spark.implicits._
    val (initial, daily) = docs(run)
    val kinds = initial.groupBy(_.kind).map { case (k, v) => k -> v.size.toDouble / initial.size }
    run.info("crawl.realized_shares") = kinds

    // near-duplicates that really reach the LSH match threshold
    val nearPairs = {
      val byText = initial.filter(_.kind == "unique").map(_.text)
      val g = new Gen(run)
      (0 until 200).map { _ => val t = byText(g.r.nextInt(byText.size)); (t, g.nearCopy(t)) }
    }
    val matched = nearPairs.toDF("a", "b")
      .select(graft.ops.TextOps.sigMatches(expr("minhash128(a)"), expr("minhash128(b)")).as("m"))
      .where(col("m") >= graft.ops.TextOps.MatchThreshold).count()
    run.info("crawl.near_edit_match_share") = matched.toDouble / nearPairs.size

    val op = s"$tag/run_from_dump"
    if (run.ops.exists(o => o.name == op && o.ok)) {
      val store = s"${run.workDir}/$tag/store"
      val ingested = WarcPipeline.ingest(run.spark, s"$inputDir/initial")
      val bad = ingested.select(col("url"), col("text"))
        .join(initial.map(d => (d.url, d.text)).toDF("url", "want"), Seq("url"), "full_outer")
        .where(col("text").isNull || col("want").isNull || col("text") =!= col("want")).count()
      run.check(op, "text_identity", bad == 0, s"$bad urls whose extracted text differs from the generated text")

      def grams(df: DataFrame) = df.select(split(col("text"), " ").as("a"))
        .where(size(col("a")) >= 5)
        .select(explode(expr("sequence(1, size(a) - 4)")).as("g"), col("a"))
        .select(expr("array_join(slice(a, g, 5), ' ')").as("gram")).distinct()
      val shared = grams(run.spark.read.parquet(store))
        .join(grams(WarcPipeline.defaultEvalSlice(ingested)), "gram").count()
      run.check(op, "eval_grams", shared == 0, s"$shared store 5-grams shared with the eval slice")

      val rows = run.spark.read.parquet(store).count()
      val manifest = new LakeTable(s"${run.workDir}/$tag/lake").rowCount(TrainingDataJob.stageNames.last)
      run.check(op, "store_rows", manifest.contains(rows), s"store holds $rows rows, manifest says $manifest")
    }
    val streamOp = s"$tag/stream"
    if (run.ops.exists(o => o.name == streamOp && o.ok)) {
      val grid = new SketchStreams.SketchStore(new java.io.File(s"${run.workDir}/$tag/sketch")).load()._2
      val batch = graft.sql.CmSketch.deserialize(daily.flatten.map(_.text).toDF("text")
        .select(explode(split(col("text"), " ")).as("w"))
        .agg(expr("cm_sketch_agg(w)")).head().getAs[Array[Byte]](0))
      run.check(streamOp, "stream_sketch", java.util.Arrays.equals(grid, batch),
        "streamed sketch differs from the batch cm_sketch_agg over the same docs")
    }
    org.apache.spark.sql.GraftCheckpoints.releaseAll()
  }

  def traced(run: Run): Unit = {
    val (n0, nDay, days, _) = sizes(run)
    val in = run.dir("crawl-input")
    run.tracer.span("crawl.generate", "crawl")(generate(run, in))
    pass(run, in)
    run.tracer.span("crawl.checks", "checks")(check(run, in, "crawl"))
    def wall(op: String) = run.ops.find(o => o.name == s"crawl/$op" && o.ok).map(_.wall).getOrElse(0.0)
    def rate(n: Double, w: Double) = if (w > 0) n / w else 0.0
    run.metrics("jobs.run_from_dump_s") = wall("run_from_dump")
    run.metrics("jobs.init_from_dump_s") = wall("init_from_dump")
    run.metrics("jobs.append_dump_s") = Main.median((0 until days).map(k => wall(s"append_$k")))
    run.metrics("jobs.stream_drain_s") = wall("stream")
    run.metrics("crawl.docs_per_s") = rate(n0, wall("run_from_dump"))
    run.metrics("crawl.resume_s") = wall("resume")
    run.metrics("crawl.stream_docs_per_s") = rate(nDay * days, wall("stream"))
    run.metrics("streaming.warc_ingest.batch_s") =
      run.info.get("crawl.stream_ingest_batch_s").map(_.asInstanceOf[Double]).getOrElse(0.0)
    run.metrics("streaming.sketch.batch_s") =
      run.info.get("crawl.stream_sketch_batch_s").map(_.asInstanceOf[Double]).getOrElse(0.0)
    val lake = s"${run.workDir}/crawl/lake"
    val store = s"${run.workDir}/crawl/store"
    val bytes = Files.bytesUnder(new java.io.File(lake)) + Files.bytesUnder(new java.io.File(store))
    run.metrics("lake.crawl.bytes_per_input_byte") = bytes.toDouble / run.info("crawl.html_bytes").asInstanceOf[Long]
    Lakes.sizes(run, "crawl", Seq(lake, store))
    Lakes.stages(run, lake, TrainingDataJob.stageNames.map(s => s -> s"tdj.${s.split('_')(1)}"),
      run.ops.find(_.name == "crawl/run_from_dump").map(_.startMs).getOrElse(0L))
  }
}
