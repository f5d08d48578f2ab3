package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Pages, PolygonLayer}
import graft.sql.{functions => G}
import scala.collection.immutable.ListMap

/** Driver contract (see builder prompt): one entry per implemented operator
  * from SURVEY.md §2, each with a DuckDB-runnable oracle over the same
  * parquet tables. Column names are aligned between the Spark plan and the
  * oracle SQL (the driver hash-compares by sorted column name). */
object SparkEntry {

  /** Flagship: the pages PIP spatial join on sf=0.001. */
  def entry(spark: SparkSession): DataFrame =
    Queries.pipJoin(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    "q01_cells_z12" -> (Queries.cellsZ12 _),
    "q02_pip_join" -> (Queries.pipJoin _),
    "q03_dissolve_lang_envelope" -> (Queries.dissolveLangEnvelope _),
    "q04_knn" -> (graft.queries.GeoQueries.knn _),
    "q05_tiles_explode" -> (graft.queries.GeoQueries.tilesExplode _),
    "q06_rasterize_counts" -> (graft.queries.GeoQueries.rasterizeCounts _),
    "q07_pyramid" -> (graft.queries.GeoQueries.pyramid _),
    "q08_vectorize" -> (graft.queries.GeoQueries.vectorize _),
    "q09_text_identity" -> (graft.queries.TextQueries.textIdentity _),
    "q10_sort_topn" -> (graft.queries.TextQueries.sortTopN _),
    "q11_groupby_having" -> (graft.queries.TextQueries.groupbyHaving _),
    "q12_union_concat" -> (graft.queries.TextQueries.unionConcat _),
    "q13_slice" -> (graft.queries.TextQueries.slice _),
    "q14_dedup_exact" -> (graft.queries.TextQueries.dedupExact _),
    "q15_token_stats" -> (graft.queries.TextQueries.tokenStats _),
    "q16_langid" -> (graft.queries.TextQueries.langId _),
    "q17_minhash_sigs" -> (graft.queries.TextQueries.minhashSigs _),
    "q18_minhash_pairs" -> (graft.queries.TextQueries.minhashPairs _),
    "q19_simhash" -> (graft.queries.TextQueries.simhash _),
    "q20_emb_knn_cosine" -> (graft.queries.EmbQueries.knnCosine _),
    "q21_emb_lsh_buckets" -> (graft.queries.EmbQueries.lshBuckets _),
    "q22_emb_dedup" -> (graft.queries.EmbQueries.embDedup _),
    "q23_window_topk" -> (graft.queries.RelQueries.windowTopK _),
    "q24_multi_join_agg" -> (graft.queries.RelQueries.multiJoinAgg _),
    "q25_sessionize" -> (graft.queries.RelQueries.sessionize _),
    "q26_merge_first_wins" -> (graft.queries.RasterQueries.mergeFirstWins _),
    "q27_merge_index" -> (graft.queries.RasterQueries.mergeIndex _),
    "q28_raster_histogram" -> (graft.queries.RasterQueries.histogram _),
    "q29_event_windows" -> (graft.queries.StreamQueries.eventWindows _),
    "q30_multimodal_frames" -> (graft.queries.StreamQueries.multimodalFrames _),
    "q31_json_props" -> (graft.queries.StreamQueries.jsonProps _),
    "q32_anti_join" -> (graft.queries.JoinQueries.antiJoin _),
    "q33_range_join" -> (graft.queries.JoinQueries.rangeJoin _),
    "q34_hll_cells" -> (graft.queries.MiscQueries.hllCells _),
    "q35_grid_cells" -> (graft.queries.MiscQueries.gridCells _),
    "q36_minhash_groups" -> (graft.queries.TextQueries.minhashGroups _),
    "q37_simhash_neardup" -> (graft.queries.TextQueries.simhashNeardup _),
    "q38_exterior_coords" -> (graft.queries.MiscQueries.exteriorCoords _),
    "q39_relate" -> (graft.queries.MiscQueries.relateClasses _),
    "q40_shuffle_pip" -> (graft.queries.JoinQueries.shufflePip _),
    "q41_fiona_dates" -> (graft.queries.MiscQueries.fionaDates _),
    "q42_ivf_ann" -> (graft.queries.EmbQueries.ivfAnn _),
    "q43_bpe_tokens" -> (graft.queries.TextQueries.bpeTokens _),
    "q44_winnow_fp" -> (graft.queries.TextQueries.winnowFingerprints _),
    "q45_extract_text" -> (graft.queries.TextQueries.extractText _),
    "q46_ngram_jaccard" -> (graft.queries.TextQueries.ngramJaccard _),
    "q47_repetition_quality" -> (graft.queries.QualityQueries.repetitionQuality _),
    "q48_ngram_novelty" -> (graft.queries.QualityQueries.corpusNgramNovelty _),
    "q49_url_parse" -> (graft.queries.QualityQueries.urlParse _),
    "q50_pii_redact" -> (graft.queries.QualityQueries.piiRedact _),
    "q51_asof_join" -> (graft.queries.JoinQueries.asofJoin _),
    "q52_stratified_sample" -> (graft.queries.QualityQueries.stratifiedSample _),
    "q53_int8_quantize" -> (graft.queries.EmbQueries.int8Quantize _),
    "q54_sequence_pack" -> (graft.queries.QualityQueries.sequencePack _),
    "q55_canonical_docs" -> (graft.queries.TextQueries.canonicalDocs _),
    "q56_zonal_stats" -> (graft.queries.GeoQueries.zonalStats _),
    "q57_interval_join" -> (graft.queries.StreamQueries.intervalJoinCounts _),
    "q58_nfc_normalize" -> (graft.queries.QualityQueries.nfcNormalize _),
    "q59_span_dedup" -> (graft.queries.QualityQueries.spanDedup _),
    "q60_decontaminate" -> (graft.queries.QualityQueries.decontaminate _),
    "q61_freq_quality" -> (graft.queries.QualityQueries.freqQuality _),
    "q62_stream_enrich" -> (graft.queries.StreamQueries.streamEnrich _),
    "q63_percentiles" -> (graft.queries.RelQueries.percentiles _),
    "q64_contamination_report" -> (graft.queries.QualityQueries.contaminationReport _),
    "q65_decontaminate_bloom" -> (graft.queries.QualityQueries.decontaminateBloom _),
    "q66_clustered_scan" -> (graft.queries.GeoQueries.clusteredScan _),
    "q67_bm25_rank" -> (graft.queries.TextQueries.bm25Rank _),
    "q68_mix_epochs" -> (graft.queries.QualityQueries.mixEpochs _),
    "q69_url_canonical" -> (graft.queries.QualityQueries.urlCanonical _),
    "q70_crawl_diff" -> (graft.queries.QualityQueries.crawlDiff _),
    "q71_domain_blocklist" -> (graft.queries.QualityQueries.domainBlocklist _),
    "q72_heavy_hitters" -> (graft.queries.TextQueries.heavyHitters _),
    "q73_quality_classifier" -> (graft.queries.QualityQueries.qualityClassifier _),
    "q74_pagerank" -> (graft.queries.GraphQueries.pageRank _),
    "q75_robots_filter" -> (graft.queries.QualityQueries.robotsFilter _),
    "q76_posting_lookup" -> (graft.queries.TextQueries.postingLookup _),
    "q77_dupgroup_histogram" -> (graft.queries.TextQueries.dupGroupHistogram _),
    "q78_semdedup" -> (graft.queries.EmbQueries.semDedup _),
    "q79_shuffle_shards" -> (graft.queries.QualityQueries.shuffleShards _),
    "q80_dsir_select" -> (graft.queries.QualityQueries.dsirSelect _),
    "q81_collocations" -> (graft.queries.TextQueries.collocations _),
    "q82_line_dedup" -> (graft.queries.QualityQueries.lineDedup _),
    "q83_lm_fluency" -> (graft.queries.QualityQueries.lmFluency _),
    "q84_cm_heavy" -> (graft.queries.TextQueries.cmHeavy _),
    "q85_hybrid_rank" -> (graft.queries.TextQueries.hybridRank _),
    "q86_warc_ingest" -> (graft.queries.TextQueries.warcIngest _),
    "q87_ann_recall" -> (graft.queries.EmbQueries.annRecall _),
    "q88_link_extract" -> (graft.queries.GraphQueries.linkExtract _),
    "q89_corpus_card" -> (graft.queries.QualityQueries.corpusCard _),
    "q90_length_histogram" -> (graft.queries.QualityQueries.lengthHistogram _),
    "q91_split_leakage" -> (graft.queries.TextQueries.splitLeakage _),
    "q92_shingle_containment" -> (graft.queries.TextQueries.shingleContainment _),
    "q93_cluster_balance" -> (graft.queries.EmbQueries.clusterBalance _),
    "q94_tile_lang_mix" -> (Queries.tileLangMix _),
    "q95_modal_agreement" -> (graft.queries.TextQueries.modalAgreement _),
    "q96_ann_rank_drift" -> (graft.queries.EmbQueries.annRankDrift _),
    "q97_wide_shards" -> (graft.queries.QualityQueries.wideShards _),
    "q98_anchor_text" -> (graft.queries.GraphQueries.anchorText _),
    "q99_jl_project" -> (graft.queries.EmbQueries.jlProject _),
    "q100_degree_census" -> (graft.queries.GraphQueries.degreeCensus _),
    "q101_distinctive_terms" -> (graft.queries.TextQueries.distinctiveTerms _),
    "q102_dup_domains" -> (graft.queries.TextQueries.dupDomains _),
    "q103_vocab_spectrum" -> (graft.queries.TextQueries.vocabSpectrum _),
    "q104_politeness" -> (graft.queries.QualityQueries.politenessSchedule _),
    "q105_hits" -> (graft.queries.GraphQueries.hits _),
    "q106_boilerplate" -> (graft.queries.QualityQueries.boilerplateCensus _),
    "q107_doc_keywords" -> (graft.queries.TextQueries.docKeywords _),
    "q108_crawl_novelty" -> (graft.queries.QualityQueries.crawlNovelty _),
    "q109_param_census" -> (graft.queries.QualityQueries.paramCensus _),
    "q110_lang_calibration" -> (graft.queries.QualityQueries.langCalibration _),
    "q111_host_graph" -> (graft.queries.GraphQueries.hostGraph _),
    "q112_token_fertility" -> (graft.queries.TextQueries.tokenFertility _),
    "q113_host_rank" -> (graft.queries.GraphQueries.hostRank _),
    "q114_host_churn" -> (graft.queries.QualityQueries.hostChurn _),
    "q115_dedup_eval" -> (graft.queries.TextQueries.dedupEval _),
    "q116_quality_drift" -> (graft.queries.QualityQueries.qualityDrift _),
  )

  def oracleSql: Map[String, String] = ListMap(
    "q01_cells_z12" -> Oracles.cellsZ12,
    "q02_pip_join" -> Oracles.pipJoin,
    "q03_dissolve_lang_envelope" -> Oracles.dissolveLangEnvelope,
    "q04_knn" -> graft.queries.GeoOracles.knn,
    "q05_tiles_explode" -> graft.queries.GeoOracles.tilesExplode,
    "q06_rasterize_counts" -> graft.queries.GeoOracles.rasterizeCounts,
    "q07_pyramid" -> graft.queries.GeoOracles.pyramid,
    "q08_vectorize" -> graft.queries.GeoOracles.vectorize,
    "q09_text_identity" -> graft.queries.TextOracles.textIdentity,
    "q10_sort_topn" -> graft.queries.TextOracles.sortTopN,
    "q11_groupby_having" -> graft.queries.TextOracles.groupbyHaving,
    "q12_union_concat" -> graft.queries.TextOracles.unionConcat,
    "q13_slice" -> graft.queries.TextOracles.slice,
    "q14_dedup_exact" -> graft.queries.TextOracles.dedupExact,
    "q15_token_stats" -> graft.queries.TextOracles.tokenStats,
    "q16_langid" -> graft.queries.TextOracles.langId,
    "q17_minhash_sigs" -> graft.queries.TextOracles.minhashSigs,
    "q18_minhash_pairs" -> graft.queries.TextOracles.minhashPairs,
    "q19_simhash" -> graft.queries.TextOracles.simhash,
    "q20_emb_knn_cosine" -> graft.queries.EmbOracles.knnCosine,
    "q21_emb_lsh_buckets" -> graft.queries.EmbOracles.lshBuckets,
    "q22_emb_dedup" -> graft.queries.EmbOracles.embDedup,
    "q23_window_topk" -> graft.queries.RelOracles.windowTopK,
    "q24_multi_join_agg" -> graft.queries.RelOracles.multiJoinAgg,
    "q25_sessionize" -> graft.queries.RelOracles.sessionize,
    "q26_merge_first_wins" -> graft.queries.RasterOracles.mergeFirstWins,
    "q27_merge_index" -> graft.queries.RasterOracles.mergeIndex,
    "q28_raster_histogram" -> graft.queries.RasterOracles.histogram,
    "q29_event_windows" -> graft.queries.StreamOracles.eventWindows,
    "q30_multimodal_frames" -> graft.queries.StreamOracles.multimodalFrames,
    "q31_json_props" -> graft.queries.StreamOracles.jsonProps,
    "q32_anti_join" -> graft.queries.JoinOracles.antiJoin,
    "q33_range_join" -> graft.queries.JoinOracles.rangeJoin,
    "q34_hll_cells" -> graft.queries.MiscOracles.hllCells,
    "q35_grid_cells" -> graft.queries.MiscOracles.gridCells,
    "q36_minhash_groups" -> graft.queries.TextOracles.minhashGroups,
    "q37_simhash_neardup" -> graft.queries.TextOracles.simhashNeardup,
    "q38_exterior_coords" -> graft.queries.MiscOracles.exteriorCoords,
    "q39_relate" -> graft.queries.MiscOracles.relateClasses,
    "q40_shuffle_pip" -> graft.queries.JoinOracles.shufflePip,
    "q41_fiona_dates" -> graft.queries.MiscOracles.fionaDates,
    "q42_ivf_ann" -> graft.queries.EmbOracles.ivfAnn,
    "q43_bpe_tokens" -> graft.queries.TextOracles.bpeTokens,
    "q44_winnow_fp" -> graft.queries.TextOracles.winnowFingerprints,
    "q45_extract_text" -> graft.queries.TextOracles.extractText,
    "q46_ngram_jaccard" -> graft.queries.TextOracles.ngramJaccard,
    "q47_repetition_quality" -> graft.queries.QualityOracles.repetitionQuality,
    "q48_ngram_novelty" -> graft.queries.QualityOracles.corpusNgramNovelty,
    "q49_url_parse" -> graft.queries.QualityOracles.urlParse,
    "q50_pii_redact" -> graft.queries.QualityOracles.piiRedact,
    "q51_asof_join" -> graft.queries.JoinOracles.asofJoin,
    "q52_stratified_sample" -> graft.queries.QualityOracles.stratifiedSample,
    "q53_int8_quantize" -> graft.queries.EmbOracles.int8Quantize,
    "q54_sequence_pack" -> graft.queries.QualityOracles.sequencePack,
    "q55_canonical_docs" -> graft.queries.TextOracles.canonicalDocs,
    "q56_zonal_stats" -> graft.queries.GeoOracles.zonalStats,
    "q57_interval_join" -> graft.queries.StreamOracles.intervalJoinCounts,
    "q58_nfc_normalize" -> graft.queries.QualityOracles.nfcNormalize,
    "q59_span_dedup" -> graft.queries.QualityOracles.spanDedup,
    "q60_decontaminate" -> graft.queries.QualityOracles.decontaminate,
    "q61_freq_quality" -> graft.queries.QualityOracles.freqQuality,
    "q62_stream_enrich" -> graft.queries.StreamOracles.streamEnrich,
    "q63_percentiles" -> graft.queries.RelOracles.percentiles,
    "q64_contamination_report" -> graft.queries.QualityOracles.contaminationReport,
    // the Bloom sketch is a PRE-FILTER only; the exact refine makes the
    // output byte-equal to q60, so the same oracle gates both plans
    "q65_decontaminate_bloom" -> graft.queries.QualityOracles.decontaminate,
    "q66_clustered_scan" -> graft.queries.GeoOracles.clusteredScan,
    "q67_bm25_rank" -> graft.queries.TextOracles.bm25Rank,
    "q68_mix_epochs" -> graft.queries.QualityOracles.mixEpochs,
    "q69_url_canonical" -> graft.queries.QualityOracles.urlCanonical,
    "q70_crawl_diff" -> graft.queries.QualityOracles.crawlDiff,
    "q71_domain_blocklist" -> graft.queries.QualityOracles.domainBlocklist,
    "q72_heavy_hitters" -> graft.queries.TextOracles.heavyHitters,
    "q73_quality_classifier" -> graft.queries.QualityOracles.qualityClassifier,
    "q74_pagerank" -> graft.queries.GraphOracles.pageRank,
    "q75_robots_filter" -> graft.queries.QualityOracles.robotsFilter,
    "q76_posting_lookup" -> graft.queries.TextOracles.postingLookup,
    "q77_dupgroup_histogram" -> graft.queries.TextOracles.dupGroupHistogram,
    "q78_semdedup" -> graft.queries.EmbOracles.semDedup,
    "q79_shuffle_shards" -> graft.queries.QualityOracles.shuffleShards,
    "q80_dsir_select" -> graft.queries.QualityOracles.dsirSelect,
    "q81_collocations" -> graft.queries.TextOracles.collocations,
    "q82_line_dedup" -> graft.queries.QualityOracles.lineDedup,
    "q83_lm_fluency" -> graft.queries.QualityOracles.lmFluency,
    "q84_cm_heavy" -> graft.queries.TextOracles.cmHeavy,
    "q85_hybrid_rank" -> graft.queries.TextOracles.hybridRank,
    "q86_warc_ingest" -> graft.queries.TextOracles.warcIngest,
    "q87_ann_recall" -> graft.queries.EmbOracles.annRecall,
    "q88_link_extract" -> graft.queries.GraphOracles.linkExtract,
    "q89_corpus_card" -> graft.queries.QualityOracles.corpusCard,
    "q90_length_histogram" -> graft.queries.QualityOracles.lengthHistogram,
    "q91_split_leakage" -> graft.queries.TextOracles.splitLeakage,
    "q92_shingle_containment" -> graft.queries.TextOracles.shingleContainment,
    "q93_cluster_balance" -> graft.queries.EmbOracles.clusterBalance,
    "q94_tile_lang_mix" -> Oracles.tileLangMix,
    "q95_modal_agreement" -> graft.queries.TextOracles.modalAgreement,
    "q96_ann_rank_drift" -> graft.queries.EmbOracles.annRankDrift,
    "q97_wide_shards" -> graft.queries.QualityOracles.wideShards,
    "q98_anchor_text" -> graft.queries.GraphOracles.anchorText,
    "q99_jl_project" -> graft.queries.EmbOracles.jlProject,
    "q100_degree_census" -> graft.queries.GraphOracles.degreeCensus,
    "q101_distinctive_terms" -> graft.queries.TextOracles.distinctiveTerms,
    "q102_dup_domains" -> graft.queries.TextOracles.dupDomains,
    "q103_vocab_spectrum" -> graft.queries.TextOracles.vocabSpectrum,
    "q104_politeness" -> graft.queries.QualityOracles.politenessSchedule,
    "q105_hits" -> graft.queries.GraphOracles.hits,
    "q106_boilerplate" -> graft.queries.QualityOracles.boilerplateCensus,
    "q107_doc_keywords" -> graft.queries.TextOracles.docKeywords,
    "q108_crawl_novelty" -> graft.queries.QualityOracles.crawlNovelty,
    "q109_param_census" -> graft.queries.QualityOracles.paramCensus,
    "q110_lang_calibration" -> graft.queries.QualityOracles.langCalibration,
    "q111_host_graph" -> graft.queries.GraphOracles.hostGraph,
    "q112_token_fertility" -> graft.queries.TextOracles.tokenFertility,
    "q113_host_rank" -> graft.queries.GraphOracles.hostRank,
    "q114_host_churn" -> graft.queries.QualityOracles.hostChurn,
    "q115_dedup_eval" -> graft.queries.TextOracles.dedupEval,
    "q116_quality_drift" -> graft.queries.QualityOracles.qualityDrift,
  )
}

object Queries {

  /** Batched cell encoding: every volume page → z12 XYZ cell → per-cell
    * counts. One shuffle (partial+final HashAggregate); the scan reads only
    * the two lineitem key columns. */
  def cellsZ12(spark: SparkSession, sfDir: String): DataFrame = {
    val pages = Pages.volumePages(spark, sfDir)
    pages
      .select(G.st_tile(col("lon"), col("lat"), 12).as("cell"), col("pid"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), min(col("pid")).as("min_pid"), max(col("pid")).as("max_pid"))
      .select(G.tile_x(col("cell")).as("x"), G.tile_y(col("cell")).as("y"),
        col("n"), col("min_pid"), col("max_pid"))
      .orderBy(col("x"), col("y"))
  }

  /** q94 geo-language census — the graft in one query: per z4 tile ×
    * language page counts with in-tile language shares (where on the map
    * each language's crawl mass sits — the report a multilingual crawl
    * planner reads). One map-side `st_tile` projection + ONE (cell, lang)
    * groupBy exchange over the corpus; the share window runs over the
    * AGGREGATED frame (≤ 2^(2z)·|langs| rows — 1280 at z4), never the
    * corpus, and `share_bp` is integer-exact. */
  def tileLangMix(spark: SparkSession, sfDir: String): DataFrame = {
    val pages = Pages.volumePages(spark, sfDir)
    val agg = pages
      .select(G.st_tile(col("lon"), col("lat"), 4).as("cell"),
        col("lang"), col("pid"))
      .groupBy(col("cell"), col("lang"))
      .agg(count(lit(1)).as("n"), min(col("pid")).as("min_pid"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))
    agg.withColumn("cell_n", sum(col("n")).over(w))
      .select(G.tile_x(col("cell")).as("x"), G.tile_y(col("cell")).as("y"),
        col("lang"), col("n"),
        expr("n * 10000 div cell_n").as("share_bp"), col("min_pid"))
      .orderBy(col("x"), col("y"), col("lang"))
  }

  /** The headline PIP join: pages points ⋈ polygon layer through
    * [[graft.ops.SpatialJoin]]. The small layer's z8 cover is broadcast →
    * `BroadcastHashJoin` on the cell with the bbox + ray-cast refine, zero
    * probe-side shuffle; per-polygon aggregation is the only exchange. */
  def pipJoin(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.SpatialJoin.pointsInPolygons(Pages.volumePages(spark, sfDir),
        PolygonLayer.toDF(spark))
      .groupBy(col("poly_id"))
      .agg(count(lit(1)).as("n"),
        min(col("pid")).as("min_pid"),
        max(col("pid")).as("max_pid"),
        sum(when(col("is_hot"), 1L).otherwise(0L)).as("n_hot"))
      .orderBy(col("poly_id"))

  /** dissolve-by-property with envelope aggregate (collections.py:210-220
    * dissolve + the envelopes_union shortcut, vectors.py:359-381). */
  def dissolveLangEnvelope(spark: SparkSession, sfDir: String): DataFrame = {
    val pages = Pages.volumePages(spark, sfDir)
    pages
      .select(col("lang"), G.st_point(col("lon"), col("lat")).as("g"), col("pid"))
      .groupBy(col("lang"))
      .agg(G.st_envelope_agg(col("g")).as("env"), count(lit(1)).as("n"))
      .select(col("lang"), col("n"),
        G.st_xmin(col("env")).as("xmin"), G.st_ymin(col("env")).as("ymin"),
        G.st_xmax(col("env")).as("xmax"), G.st_ymax(col("env")).as("ymax"))
      .orderBy(col("lang"))
  }
}

object Oracles {
  import Pages.PagesSql._

  private def withVolume(body: String): String =
    s"WITH pages AS (${Pages.PagesSql.volumeCte("lineitem")})\n$body"

  val cellsZ12: String = withVolume(
    s"""SELECT ${tileXSql("lon", 12)} AS x, ${tileYSql("lat", 12)} AS y,
       |       count(*) AS n, min(pid) AS min_pid, max(pid) AS max_pid
       |FROM pages GROUP BY 1, 2 ORDER BY x, y""".stripMargin)

  /** q94 mirror: same tile arithmetic at z4, share window over the
    * grouped frame. */
  val tileLangMix: String = withVolume(
    s"""SELECT x, y, lang, n,
       |       CAST((n * 10000) // (SUM(n) OVER (PARTITION BY x, y)) AS BIGINT) AS share_bp,
       |       min_pid
       |FROM (
       |  SELECT ${tileXSql("lon", 4)} AS x, ${tileYSql("lat", 4)} AS y, lang,
       |         count(*) AS n, min(pid) AS min_pid
       |  FROM pages GROUP BY 1, 2, 3) t
       |ORDER BY x, y, lang""".stripMargin)

  val pipJoin: String = {
    // HAVING count(*)>0 keeps the oracle symmetric with the Spark inner
    // join + groupBy, which emits no row for a polygon with zero pages
    // (ungrouped aggregates would emit n=0/NULL rows) — ADVICE.md r1.
    val perPoly = PolygonLayer.polys.map { case (id, _) =>
      s"""SELECT $id AS poly_id, count(*) AS n, min(pid) AS min_pid,
         |       max(pid) AS max_pid,
         |       CAST(sum(CASE WHEN is_hot THEN 1 ELSE 0 END) AS BIGINT) AS n_hot
         |FROM pages WHERE ${PolygonLayer.containsSql(id, "lon", "lat")}
         |HAVING count(*) > 0""".stripMargin
    }.mkString("\nUNION ALL\n")
    withVolume(s"SELECT * FROM (\n$perPoly\n) ORDER BY poly_id")
  }

  val dissolveLangEnvelope: String = withVolume(
    """SELECT lang, count(*) AS n, min(lon) AS xmin, min(lat) AS ymin,
      |       max(lon) AS xmax, max(lat) AS ymax
      |FROM pages GROUP BY lang ORDER BY lang""".stripMargin)
}
