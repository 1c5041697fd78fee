package graft.queries

import graft.Tables
import graft.als.{GraftALS, GraftALSModel, RankingMetrics}
import graft.ops.Similarity
import graft.queries.AlsQueries._
import graft.queries.DedupQueries._
import graft.queries.PipelineQueries._
import graft.queries.RelationalQueries._
import graft.queries.SimilarityQueries._
import graft.queries.StreamingQueries._
import graft.queries.TextQueries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The verifiable query surface: every operator family from SURVEY.md §2
  * plus the LLM-data-pipeline extensions, each as a (Spark plan, optional
  * DuckDB oracle SQL) pair. The [[QueryDef]]s live in one object per
  * family (RelationalQueries, AlsQueries, DedupQueries, SimilarityQueries,
  * TextQueries, StreamingQueries, PipelineQueries), their oracles' shared
  * arithmetic in [[OracleSql]]; this object holds the registry [[all]] and
  * the accessors the families and the harness mains share.
  *
  * Determinism conventions (the driver hash-compares a parquet dump of the
  * Spark result against DuckDB's result for the same SQL):
  *   - output columns aliased identically on both sides;
  *   - every money/double SUM computed in DECIMAL (exact, order-independent)
  *     and only then cast to DOUBLE; averages as one IEEE division of two
  *     exact values;
  *   - every result ORDER BY a unique key on both sides;
  *   - integer-ish outputs cast to BIGINT on both sides (Spark `size()` is
  *     INT, DuckDB `len()` is BIGINT — never compare those raw).
  *
  * A family object must not read this object's state while it initializes
  * (its oracle strings are built then): [[all]] initializes every family,
  * so only query bodies — which run later — may call back here.
  */
object Queries {

  private[queries] def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Tables.load(spark, sfDir, name)

  /** Unordered — training consumers don't pay a global sort; the oracle
    * query (als_ratings) adds its own ORDER BY.
    */
  private[graft] def ratingsDF(s: SparkSession, dir: String): DataFrame =
    graft.sources.RatingsSource.fromLineitem(s, dir)

  /** Sink dirs already (re)written by THIS JVM — see alsCsvRatings /
    * docsPartitionedScan.
    */
  private[queries] val csvWritten =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Collision-resistant key for scratch paths derived from a data dir.
    * `dir.hashCode` is a 32-bit Int (and `math.abs(Int.MinValue)` is
    * negative): two distinct dirs colliding would silently serve one
    * dataset's on-disk index against another dataset's cached codebook.
    * md5 of the full dir matches the granularity of [[SessionArtifacts]],
    * which keys by the dir string itself.
    */
  private[queries] def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)

  /** Trained IVF codebook per (session, dir) — deterministic for a given
    * dir, shared by every query that probes the IVF index (sim_recall,
    * sim_topk_ivf) so the 3-pass k-means trains once per dataset, not once
    * per query.
    */
  private[graft] def trainedCodebook(s: SparkSession, dir: String): Array[Array[Float]] =
    SessionArtifacts.getOrBuild(s, dir, "codebook") {
      val e = t(s, dir, "embeddings")
      // √n-sized codebook (Similarity.defaultNumCells): a fixed 16-cell
      // book made inverted lists grow linearly with the corpus and the
      // batch ANN queries O(n²/16) — the round-8 x10 measurement
      Similarity.trainCodebook(e, numCells = Similarity.defaultNumCells(e.count()))
    }

  /** Trained PQ codebooks — trained on RESIDUALS of the dir's IVF codebook
    * (the IVF-PQ contract; see Similarity.withCellResiduals), so the two
    * entries always describe the same composed index.
    */
  private[queries] def trainedPq(s: SparkSession, dir: String): Array[Array[Array[Float]]] =
    SessionArtifacts.getOrBuild(s, dir, "pq")(Similarity.trainPqCodebooks(
      Similarity.withCellResiduals(t(s, dir, "embeddings"), trainedCodebook(s, dir)),
      vecCol = "residual"))

  /** Trained MIPS index (augmented-space codebook + the augmentation
    * bound) — the same train-once/serve-many split as [[trainedCodebook]].
    * Sharing it also makes the sim_topk_mips oracle sound: the dumped
    * codebook (sim_mips_codebook) and the serving query replay the SAME
    * trained floats, rather than two k-means runs whose
    * double-accumulation order could differ at the last bit.
    */
  private[queries] def trainedMipsIdx(s: SparkSession, dir: String): Similarity.MipsIndex =
    SessionArtifacts.getOrBuild(s, dir, "mipsIndex") {
      val e = t(s, dir, "embeddings")
      Similarity.trainMipsIndex(e, vecCol = "embedding", dim = 64,
        numCells = Similarity.defaultNumCells(e.count()))
    }

  /** Hyperparameters every session model shares: five λ = 0.1 iterations
    * on an 8×8 grid from seed 42. `checkpointInterval = 2` (not the
    * default 10 > maxIter) so the lineage-cut path (BlockedALS's
    * checkpoint of the factor RDDs) RUNS under Verify whenever the session
    * has a checkpoint dir — round-7 verdict #8: the gate must exercise
    * shouldCheckpoint=true, not just the specs. Checkpointing truncates
    * lineage only; every factor value is bit-identical with or without it,
    * so the hash-green replay oracles are unaffected.
    */
  private val sessionAls = GraftALS(
    rank = 8, maxIter = 5, regParam = 0.1,
    numUserBlocks = 8, numItemBlocks = 8,
    userCol = "user_id", itemCol = "item_id", ratingCol = "rating",
    seed = 42L, checkpointInterval = 2)

  /** One trained model per (session, dir, name), fit on first use and
    * shared by every query that serves from it.
    */
  private def sessionModel(
      s: SparkSession,
      dir: String,
      name: String,
      als: GraftALS,
      ratings: (SparkSession, String) => DataFrame = ratingsDF): GraftALSModel =
    SessionArtifacts.getOrBuild(s, dir, name)(als.fit(ratings(s, dir)))

  /** The gate's trained model, which most ALS queries share. */
  private[graft] def model(s: SparkSession, dir: String): GraftALSModel =
    sessionModel(s, dir, "model", sessionAls)

  /** NNLS-trained model (nonnegative = true) — the projected-gradient
    * NNLS solver was spec-only (SolverSpec KKT) until round 9; this model
    * routes it through the gate.
    */
  private[graft] def nnModel(s: SparkSession, dir: String): GraftALSModel =
    sessionModel(s, dir, "nnModel", sessionAls.copy(nonnegative = true))

  /** Rank-32 training run. The round-15 rank sweep
    * found a 1.47×-MLlib regression at rank 64 (per-entity solver scratch
    * churn) that was INVISIBLE to every rank-8 gate row and bench artifact
    * — this model keeps the rank axis exercised by the standing gate
    * (round-15 verdict #2), at rank 32 where the Gramian term already
    * dominates the wire term (SCALING §12.14).
    */
  private[graft] def rank32Model(s: SparkSession, dir: String): GraftALSModel =
    sessionModel(s, dir, "rank32Model", sessionAls.copy(rank = 32))

  /** Rank-64 training run. Rank 64 is where
    * the round-15 solver-scratch regression actually bit (1.47×-MLlib wall
    * time, invisible below rank 32 because the Gramian/solve term only
    * dominates there) — this model puts that rank in the standing gate,
    * not just the head-to-head protocol tier (round-17 verdict #7).
    */
  private[graft] def rank64Model(s: SparkSession, dir: String): GraftALSModel =
    sessionModel(s, dir, "rank64Model", sessionAls.copy(rank = 64))

  /** Implicit-feedback training (M4/M7/M8): event-count confidences through
    * the Hu-Koren-Volinsky path, NNLS-free. Factors are rows-only; the
    * derivation itself is oracle-checked via als_implicit_ratings.
    */
  private[queries] def implicitModel(s: SparkSession, dir: String): GraftALSModel =
    sessionModel(s, dir, "implicitModel",
      sessionAls.copy(implicitPrefs = true, alpha = 10.0,
        numUserBlocks = 4, numItemBlocks = 4, checkpointInterval = 10),
      graft.sources.RatingsSource.implicitFromEvents)

  /** Trains the SHARED session model (the one-per-(session, dir) cache
    * every explicit-ALS query reads) and materializes both factor halves.
    * Bench runs this as its own labeled row (`als_session_train`) so the
    * one-time training cost stops landing inside whichever `als_*` query
    * happens to run first — round-13 verdict #2: its placement shifted
    * with suite composition, making ×100 ALS-family rows unattributable
    * round-over-round. Idempotent: later calls hit the memoized model.
    */
  private[graft] def prewarmSessionModel(s: SparkSession, dir: String): Unit = {
    val m = model(s, dir)
    m.userFactors.write.format("noop").mode("overwrite").save()
    m.itemFactors.write.format("noop").mode("overwrite").save()
  }

  /** Builds (or freshness-checks) the persistent shredded-at-ingest
    * variant layout and reads it once — Bench's `variant_ingest_shred`
    * labeled row, so a fresh tier's first-touch parse cost is visible as
    * the INGEST cost it is instead of inflating `events_json_variant`'s
    * read-path row (round-13 verdict #2; §10.8 measured 56.8 s first-touch
    * vs ~1 s warmed at ×100).
    */
  private[graft] def prewarmShreddedEvents(s: SparkSession, dir: String): Unit =
    shreddedEvents(s, dir).write.format("noop").mode("overwrite").save()

  /** MLlib's RMSE on the dir's ratings, memoized per (session, dir). The
    * competitor training runs ONCE and only the scalar survives (the model
    * itself is released), so the timed als_rmse_vs_mllib bench entry measures
    * our own scoring, not MLlib's fit — Bench pre-warms this untimed
    * (round-5 verdict "What's wrong" #3).
    */
  private[graft] def prewarmMllibRmse(s: SparkSession, dir: String): Double =
    SessionArtifacts.getOrBuild(s, dir, "mllibRmse") {
      val ratings = ratingsDF(s, dir)
        .withColumn("user_int", col("user_id").cast("int"))
        .withColumn("item_int", col("item_id").cast("int"))
      ratings.cache().count()
      try {
        val mllib = new org.apache.spark.ml.recommendation.ALS()
          .setRank(8).setMaxIter(5).setRegParam(0.1)
          .setNumUserBlocks(8).setNumItemBlocks(8)
          .setUserCol("user_int").setItemCol("item_int").setRatingCol("rating")
          .setSeed(42L)
          .fit(ratings)
        mllib.setColdStartStrategy("drop")
        val rmse = math.sqrt(mllib.transform(ratings)
          .agg(avg(pow(col("prediction").cast("double") - col("rating"), 2.0)))
          .head().getDouble(0))
        mllib.userFactors.unpersist()
        mllib.itemFactors.unpersist()
        rmse
      } finally ratings.unpersist()
    }

  /** MLlib's implicit-ALS MPR on the dir's interactions, memoized per
    * (session, dir) — the competitor trains once untimed (Bench pre-warms
    * this like [[prewarmMllibRmse]]) and only the scalar survives.
    */
  private[graft] def prewarmMllibImplicitMpr(s: SparkSession, dir: String): Double =
    SessionArtifacts.getOrBuild(s, dir, "mllibImplicitMpr") {
      val inter = graft.sources.RatingsSource.implicitFromEvents(s, dir)
        .withColumn("user_int", col("user_id").cast("int"))
        .withColumn("item_int", col("item_id").cast("int"))
      inter.cache().count()
      try {
        val mllib = new org.apache.spark.ml.recommendation.ALS()
          .setRank(8).setMaxIter(5).setRegParam(0.1).setAlpha(10.0)
          .setImplicitPrefs(true)
          .setNumUserBlocks(4).setNumItemBlocks(4)
          .setUserCol("user_int").setItemCol("item_int").setRatingCol("rating")
          .setSeed(42L)
          .fit(inter)
        val mpr = RankingMetrics.meanPercentileRank(mllib.userFactors, mllib.itemFactors,
          inter.select(col("user_id"), col("item_id"), col("rating")),
          sampleDenom = RankingMetrics.mprSampleDenom(inter.select("item_id").distinct().count()))
        mllib.userFactors.unpersist()
        mllib.itemFactors.unpersist()
        mpr
      } finally inter.unpersist()
    }

  // ------------------------------------------------------------------

  /** Every registered query, in a stable order. */
  val all: Seq[(String, QueryDef)] = Seq(
    "q01_pricing_summary" -> q01PricingSummary,
    "q02_segment_sales" -> q02SegmentSales,
    "q03_region_revenue" -> q03RegionRevenue,
    "q04_shipdate_filter" -> q04ShipdateFilter,
    "q05_topk_orders" -> q05TopkOrders,
    "q06_distinct_counts" -> q06DistinctCounts,
    "q07_window_top3" -> q07WindowTop3,
    "q08_semi_join" -> q08SemiJoin,
    "q09_anti_join" -> q09AntiJoin,
    "q10_setops" -> q10SetOps,
    "q11_rollup" -> q11Rollup,
    "q12_events_by_type" -> q12EventsByType,
    "q13_events_daily" -> q13EventsDaily,
    "q14_docs_by_lang" -> q14DocsByLang,
    "q15_token_stats" -> q15TokenStats,
    "q16_dedup_exact" -> q16DedupExact,
    "q17_quality_features" -> q17QualityFeatures,
    "q18_above_avg_orders" -> q18AboveAvgOrders,
    "q19_user_type_pivot" -> q19UserTypePivot,
    "q20_brand_revenue" -> q20BrandRevenue,
    "q21_date_bounds" -> q21DateBounds,
    "q22_nested_agg" -> q22NestedAgg,
    "q23_sql_interface" -> q23SqlInterface,
    "q24_cube" -> q24Cube,
    "q25_skew_salted_join" -> q25SkewSaltedJoin,
    "q26_asof_join" -> q26AsofJoin,
    "q27_sessionization" -> q27Sessionization,
    "q28_topk_udaf" -> q28TopkUdaf,
    "q29_range_join" -> q29RangeJoin,
    "stream_sessions" -> streamSessions,
    "als_ratings" -> alsRatings,
    "als_csv_ratings" -> alsCsvRatings,
    "als_rmse_vs_mllib" -> alsRmseVsMllib,
    "als_implicit_vs_mllib" -> alsImplicitVsMllib,
    "als_user_factors" -> alsUserFactors,
    "als_item_factors" -> alsItemFactors,
    "als_nonnegative_factors" -> alsNonnegativeFactors,
    "als_rank32_factors" -> alsRank32Factors,
    "als_rank64_factors" -> alsRank64Factors,
    "als_predictions" -> alsPredictions,
    "als_mse" -> alsMse,
    "als_recommend" -> alsRecommend,
    "als_implicit_ratings" -> alsImplicitRatings,
    "als_implicit_factors" -> alsImplicitFactors,
    "als_foldin" -> alsFoldin,
    "als_foldin_implicit" -> alsFoldinImplicit,
    "als_negative_samples" -> alsNegativeSamples,
    "als_foldin_items" -> alsFoldinItems,
    "als_online_refresh" -> alsOnlineRefresh,
    "als_item_neighbors" -> alsItemNeighbors,
    "als_index_build" -> alsIndexBuild,
    "als_item_neighbors_approx" -> alsItemNeighborsApprox,
    "als_recommend_approx" -> alsRecommendApprox,
    "als_recommend_sharded" -> alsRecommendSharded,
    "als_item_neighbors_sharded" -> alsItemNeighborsSharded,
    "dedup_minhash_keepers" -> dedupMinhashKeepers,
    "dedup_minhash_grouped" -> dedupMinhashGrouped,
    "dedup_simhash_signatures" -> dedupSimhashSignatures,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_ngram_kernel" -> dedupNgramKernel,
    "dedup_clusters" -> dedupClusters,
    "dedup_recall" -> dedupRecall,
    "decontaminate" -> decontaminate,
    "embedding_pca" -> embeddingPca,
    "dedup_embedding_planes" -> dedupEmbeddingPlanes,
    "dedup_embedding" -> dedupEmbedding,
    "dedup_embedding_anchors" -> dedupEmbeddingAnchors,
    "text_analyze" -> textAnalyze,
    "text_repetition" -> textRepetition,
    "text_top_terms" -> textTopTerms,
    "text_langid_fingerprint" -> textLangidFingerprint,
    "text_oov_quality" -> textOovQuality,
    "text_winnow" -> textWinnow,
    "text_redact" -> textRedact,
    "quality_filter" -> qualityFilter,
    "pipeline_split" -> pipelineSplit,
    "temporal_split" -> temporalSplitQ,
    "events_json_variant" -> eventsJsonVariant,
    "synthetic_source_scan" -> syntheticSourceScan,
    "docs_partition_overwrite" -> docsPartitionOverwrite,
    "sink_write_audit" -> sinkWriteAudit,
    "pipeline_end_to_end" -> pipelineEndToEnd,
    "sample_stratified" -> sampleStratified,
    "mixture_sample" -> mixtureSampleBySource,
    "pack_sequences" -> packSequencesQ,
    "pipeline_compaction_plan" -> compactionPlanQ,
    "events_zorder_layout" -> eventsZorderLayout,
    "dedup_incremental" -> dedupIncremental,
    "dedup_incremental_bloom" -> dedupIncrementalBloom,
    "dedup_incremental_minhash" -> dedupIncrementalMinhash,
    "dedup_boilerplate" -> dedupBoilerplate,
    "dedup_span_pairs" -> dedupSpanPairs,
    "chunk_overlap" -> chunkOverlap,
    "chunk_overlap_gen" -> chunkOverlapGen,
    "docs_jsonl_roundtrip" -> docsJsonlRoundtrip,
    "docs_orc_roundtrip" -> docsOrcRoundtrip,
    "bucketed_join" -> bucketedJoin,
    "stream_dedup" -> streamDedup,
    "stream_index_maintenance" -> streamIndexMaintenance,
    "sketch_aggregates" -> sketchAggregates,
    "sketch_mergeable" -> sketchMergeable,
    "sketch_heavy_hitters" -> sketchHeavyHitters,
    "sim_ivf_codebook" -> simIvfCodebook,
    "sim_mips_codebook" -> simMipsCodebook,
    "sim_pq_codebook" -> simPqCodebook,
    "sim_topk_brute" -> simTopkBrute,
    "sim_lsh_planes" -> simLshPlanes,
    "sim_topk_lsh" -> simTopkLsh,
    "sim_topk_ivf" -> simTopkIvf,
    "sim_topk_mips" -> simTopkMips,
    "sim_topk_ivfpq" -> simTopkIvfPq,
    "sim_ivf_serve" -> simIvfServe,
    "sim_ivf_append" -> simIvfAppend,
    "sim_drift_codebook" -> simDriftCodebook,
    "sim_drift_recall" -> simDriftRecall,
    "sim_recall" -> simRecall,
    "token_bpe_estimate" -> tokenBpeEstimate,
    "multimodal_features" -> multimodalFeatures,
    "multimodal_frames" -> multimodalFrames,
    "multimodal_real_decode" -> multimodalRealDecode,
    "multimodal_real_video" -> multimodalRealVideo,
    "multimodal_real_features" -> multimodalRealFeatures,
    "docs_partitioned_scan" -> docsPartitionedScan,
    "docs_dpp_join" -> docsDppJoin,
    "docs_sorted_scan" -> docsSortedScan,
    "docs_length_histogram" -> docsLengthHistogram,
    "docs_schema_evolution" -> docsSchemaEvolution,
    "stream_events_daily" -> streamEventsDaily,
    "stream_purchase_views" -> streamPurchaseViews)
}
