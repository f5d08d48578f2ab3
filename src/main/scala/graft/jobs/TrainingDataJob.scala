package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.lake.{LakeTable, StageRunner}
import graft.queries.{QualityQueries, TextQueries}

/** The END-TO-END training-data pipeline, composed from the engine's
  * oracle-gated operators and committed stage-by-stage to the lake:
  *
  *   raw docs ─ quality gate (q73 scorer) ─ exact dedup (q14 keep-min)
  *     ─ near-dup canonicalization (q17/q18/q55 MinHash labels)
  *     ─ benchmark decontamination (q60 k-gram overlap vs a caller eval
  *       set) ─ shuffle-shard training store (q79 assignment,
  *       `split=/shard=` hive layout).
  *
  * Stage ORDER is the 100-TB cost argument: the quality gate is a
  * SHUFFLE-FREE map-side filter (the scorer carries `text` through, so
  * survivors need no re-join) and cuts first — cheapest per row, biggest
  * cut on crawl data; exact dedup is ONE fingerprint-window exchange over
  * survivors; the expensive MinHash/LSH pass runs only on what survived
  * both; decontamination explodes grams over the smallest surviving set;
  * the store write is map-side placement. Every stage lands as a
  * [[LakeTable]] snapshot via [[StageRunner.stage]], so a crashed run
  * RESUMES after the last committed stage — including the store write,
  * which is skipped when its `_SUCCESS` marker already exists — and every
  * intermediate corpus is time-travelable for audits. Stage names fold
  * their FULL derivation tokens ([[QualityQueries.qualityKey]],
  * [[graft.ops.TextOps.minhashKey]], [[QualityQueries.shardKey]]):
  * changing any mirrored constant invalidates exactly the stages it
  * derives (the stage-key invariant).
  *
  * The lake root is the pipeline's identity: one root per (corpus, eval
  * set, config) run — the single-writer / fixed-input contract of
  * [[LakeTable.commit]]. */
object TrainingDataJob {

  /** One row per pipeline stage: docs surviving after it. */
  final case class StageCount(stage: String, docs: Long)

  def stageNames: Seq[String] = Seq(
    s"tdj_quality_${QualityQueries.qualityKey}",
    "tdj_exact_md5",
    s"tdj_neardup_${graft.ops.TextOps.minhashKey}",
    s"tdj_decontam_k${QualityQueries.DecontK}",
    s"tdj_store_${QualityQueries.shardKey}")

  /** Run (or resume) the pipeline. `docs`: (doc_id, text); `evalDocs`: the
    * held-out benchmark (doc_id, text). Returns the final sharded corpus
    * (doc_id, text, h, split, shard) as committed to the store stage; the
    * caller points the training reader at `storeDir` (hive `split=/shard=`
    * layout, written once — a resumed rerun does not rewrite it). */
  def run(spark: SparkSession, docs: DataFrame, evalDocs: DataFrame,
          lakeRoot: String, storeDir: String): DataFrame = {
    val lake = new LakeTable(lakeRoot)
    val Seq(sQuality, sExact, sNear, sDecon, sStore) = stageNames

    // 1. quality gate — one map-side projection: score, filter, project.
    // No survivor re-join (scoreDocs carries text through) — zero exchange.
    val quality = StageRunner.stage(spark, lake, sQuality) {
      QualityQueries.scoreDocs(docs).where(col("keep"))
        .select(col("doc_id"), col("text"))
    }

    // 2. exact dedup — keep the MIN doc_id per text fingerprint (q14
    // semantics) in ONE exchange: a window over the 16-byte fingerprint
    // (fingerprint groups are tiny, so the partition-by is skew-free)
    val exact = StageRunner.stage(spark, lake, sExact) {
      val fp = quality.withColumn("fp", md5(col("text")))
      fp.withColumn("mn", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
        .where(col("doc_id") === col("mn"))
        .drop("fp", "mn")
    }

    // 3. near-dup canonicalization — MinHash/LSH component labels; the
    // keeper is the cluster-min doc (the label IS the component min under
    // min-propagation), docs outside every cluster have no label row and
    // pass. The labels' checkpoint blocks are released only AFTER the
    // stage's commit action consumed them (a released local checkpoint is
    // unrecomputable) — in a finally, so a failed commit cannot pin them
    // in a long-lived session; on a resume the build closure never runs
    // and nothing is pinned.
    var labelsHandle: DataFrame = null
    val near =
      try StageRunner.stage(spark, lake, sNear) {
        val labels = TextQueries.minhashLabelsOf(spark, exact)
        labelsHandle = labels
        exact.join(labels.select(col("u").as("doc_id"), col("label")),
            Seq("doc_id"), "left")
          .where(col("label").isNull || col("label") === col("doc_id"))
          .drop("label")
      } finally {
        if (labelsHandle != null)
          org.apache.spark.sql.GraftCheckpoints.release(labelsHandle)
      }

    // 4. decontamination — drop any doc sharing a k-gram with the eval
    // set. The gram stream is the SHARED q60 expression
    // (QualityQueries.kgramHashes) exploded ONCE into a semi-join — the
    // pipeline only needs WHICH docs leak, so no per-doc rollup.
    val decon = StageRunner.stage(spark, lake, sDecon) {
      decontaminated(near, evalDocs) // shared with appendBatch
    }

    // 5. shuffle-shard store — q79 assignment, written hive-partitioned
    // (the batch twin of ShardStreams.shardedWriter's layout). The
    // parquet write is itself resume-guarded: a completed store carries
    // the writer's _SUCCESS marker, and rewriting the largest artifact of
    // the whole pipeline on a no-op rerun would defeat the resume.
    val sharded = StageRunner.stage(spark, lake, sStore) {
      QualityQueries.withShardAssignment(decon)
    }
    val done = new java.io.File(s"$storeDir/_SUCCESS")
    if (!done.exists())
      sharded.write.mode("overwrite").partitionBy("split", "shard")
        .parquet(storeDir)
    sharded
  }

  /** Per-stage surviving-doc counts — read from the committed manifests'
    * `row_count` (zero Spark jobs; these stages are plain commits, so the
    * manifest count IS the stage's doc count). */
  def report(spark: SparkSession, lakeRoot: String): Seq[StageCount] = {
    val lake = new LakeTable(lakeRoot)
    stageNames.flatMap(s => lake.rowCount(s).map(StageCount(s, _)))
  }

  // ---------------------------------------------- incremental (daily) face

  /** Dedup contract of the incremental face: a batch doc is dropped iff it
    * directly near-dups ANY doc already in the signature store (regardless
    * of id order — the store is append-only, so the stored copy cannot be
    * retracted in favor of a smaller-id newcomer), or a smaller-id doc of
    * its own batch (PAIRWISE-MINIMAL within the batch: every batch dup
    * family's minimum survives). Transitively-linked docs that never
    * directly pair may both survive — the batch job ([[run]]) is the
    * retroactive connected-components variant; this is what an online
    * crawler dedup can decide from pairs alone, without re-clustering the
    * corpus per batch. `batchIds` tells store pairs (drop either
    * orientation) from batch-internal pairs (drop the larger side). */
  private def dropPairedDups(docs: DataFrame, pairs: DataFrame,
                             batchIds: DataFrame): DataFrame = {
    val oriented = pairs.select(col("a").as("doc_id"), col("b").as("other"))
      .union(pairs.select(col("b").as("doc_id"), col("a").as("other")))
    // batch doc × STORE doc (other outside the batch): drop the batch doc
    val vsStore = oriented
      .join(batchIds, Seq("doc_id"), "left_semi")
      .join(batchIds.select(col("doc_id").as("other")), Seq("other"), "left_anti")
      .select(col("doc_id"))
    // batch-internal pair (a < b canonical): drop b, the family min stays
    val inBatch = pairs
      .join(batchIds.select(col("doc_id").as("a")), Seq("a"), "left_semi")
      .join(batchIds.select(col("doc_id").as("b")), Seq("b"), "left_semi")
      .select(col("b").as("doc_id"))
    docs.join(vsStore.union(inBatch).distinct(), Seq("doc_id"), "left_anti")
  }

  /** Establish incremental state from a base corpus: quality-gate, commit
    * ALL gated docs' signatures as the [[IncrementalDedup]] store (dropped
    * dups stay probe-able — a future recrawl of a dropped doc must still
    * match), dedup pairwise-minimally, decontaminate, and write the
    * initial `split=/shard=` store. */
  def initIncremental(spark: SparkSession, docs: DataFrame, evalDocs: DataFrame,
                      lakeRoot: String, storeDir: String): DataFrame = {
    val gated = QualityQueries.scoreDocs(docs.dropDuplicates("doc_id"))
      .where(col("keep")).select(col("doc_id"), col("text"))
    // an all-rejected corpus would commit an EMPTY sig store whose later
    // reads die with a bare schema-inference error — fail informatively at
    // the boundary instead (surfaced by the property spec's digit stems)
    require(gated.limit(1).count() > 0,
      "quality gate rejected every document — nothing to initialize")
    // init commits the signatures and hands back the PARQUET-BACKED store —
    // pairsFromSigs reads it, so the 128-perm pass runs exactly once
    val sigs = IncrementalDedup.init(spark, gated, lakeRoot)
    // every pair is batch-internal here (the store IS the batch): drop the
    // b side — the family minimum stays. ONE consumer of the pair stream.
    val kept = gated.join(
      TextQueries.pairsFromSigs(sigs).select(col("b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    // survivors materialize once; the returned frame (and the store write)
    // ride this checkpoint instead of re-running gate+pairs+decontamination
    // per caller action — callers release via the standard releaseAll
    val clean = org.apache.spark.sql.GraftCheckpoints.local(
      decontaminated(kept, evalDocs))
    writeStoreBatch(clean, storeDir, marker = Some("_batch_init"))
  }

  /** Append a daily batch: quality-gate map-side, near-dup against the
    * signature store AND within the batch in one [[IncrementalDedup]]
    * append (exact duplicates are subsumed — identical text matches
    * 128/128 signatures), decontaminate survivors, and APPEND them to the
    * sharded store. A doc_id already in the signature store (an earlier
    * batch delivered it) never re-enters the training store — the same
    * first-write-wins disjointness the sig store itself enforces.
    * `batchId` makes the whole append idempotent: the signature store
    * commit via [[IncrementalDedup]]'s replay probe, the store parquet
    * append via a `_batch_<id>` marker file. */
  def appendBatch(spark: SparkSession, newDocs: DataFrame, evalDocs: DataFrame,
                  lakeRoot: String, storeDir: String,
                  batchId: Option[Long] = None): DataFrame = {
    val gated = QualityQueries.scoreDocs(newDocs.dropDuplicates("doc_id"))
      .where(col("keep")).select(col("doc_id"), col("text"))
    // pin the PRE-append store ids (lake.read resolves the manifest now,
    // so the frame keeps pointing at the parent snapshot after the commit)
    val lake = new LakeTable(lakeRoot)
    val storeIds = lake.read(spark, IncrementalDedup.SigStage)
      .select(col("doc_id"))
    val (rawPairs, sigHandle, isReplay) =
      IncrementalDedup.appendWithHandle(spark, gated, lakeRoot, batchId)
    // the LSH pair stream is consumed three times below (both orientations
    // + the in-batch branch) — materialize it once (CLAUDE.md: never give
    // an unmaterialized expensive stream a second consumer)
    val pairs = org.apache.spark.sql.GraftCheckpoints.local(rawPairs)
    // cross-batch redelivery guard for the TRAINING store: a doc the sig
    // store already holds was appended (or dropped) by its first delivery.
    // The replay verdict is the sig store's MANIFEST probe (from
    // appendWithHandle), NOT the training-store marker: a crash between
    // the sig commit and the store write leaves the marker missing while
    // the sig store already holds the batch — marker-based evidence would
    // anti-join the whole batch away on retry and permanently lose its
    // survivors (round-4 review). On a known replay the guard is skipped
    // so the batch's survivor set is recomputed (against the CURRENT
    // store — a LATE manual replay may return fewer survivors than the
    // original run if later batches duplicated some; the training store
    // itself is marker-protected either way).
    val fresh =
      if (isReplay) gated
      else gated.join(storeIds, Seq("doc_id"), "left_anti")
    val kept = dropPairedDups(fresh, pairs, fresh.select(col("doc_id")))
    // materialize survivors BEFORE freeing the append's signature blocks
    // (the pair plan reads them); the returned frame rides this checkpoint
    // — callers release via the standard harness releaseAll
    val clean = org.apache.spark.sql.GraftCheckpoints.local(
      decontaminated(kept, evalDocs))
    org.apache.spark.sql.GraftCheckpoints.release(pairs)
    org.apache.spark.sql.GraftCheckpoints.release(sigHandle)
    // no marker without a batch id: two DISTINCT unmarked batches must
    // both land (a shared sentinel would silently skip the second) — the
    // idempotence guarantee simply requires supplying batchId
    writeStoreBatch(clean, storeDir, marker = batchId.map(id => s"_batch_$id"))
  }

  private def decontaminated(docs: DataFrame, evalDocs: DataFrame): DataFrame = {
    val k = QualityQueries.DecontK
    val evalGrams = QualityQueries.kgramHashes(evalDocs, k)
      .select(col("h")).distinct()
    val hit = QualityQueries.kgramHashes(docs, k)
      .join(broadcast(evalGrams), Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
    docs.join(hit, Seq("doc_id"), "left_anti")
  }

  /** Shard-assign and append to the store unless this batch's marker
    * already exists (replay idempotence for the non-transactional parquet
    * append; the marker lands AFTER the write, so a crash mid-write
    * re-appends on retry — callers needing exactly-once under mid-write
    * crashes route through a streaming sink, [[ShardStreams]]). */
  private def writeStoreBatch(clean: DataFrame, storeDir: String,
                              marker: Option[String]): DataFrame = {
    val sharded = QualityQueries.withShardAssignment(clean)
    val m = marker.map(name => new java.io.File(s"$storeDir/$name"))
    if (!m.exists(_.exists())) {
      sharded.write.mode("append").partitionBy("split", "shard")
        .parquet(storeDir)
      m.foreach { f => f.getParentFile.mkdirs(); f.createNewFile() }
    }
    sharded
  }
}
