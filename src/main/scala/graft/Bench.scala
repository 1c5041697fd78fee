package graft

import org.apache.spark.sql.SparkSession

/** Benchmark harness: times every registered query at the sf pointed to by
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Per VERDICT.md round-1 fixes:
  *   - a failing query is recorded in an `errors` map, never as a timing;
  *   - the timed action is a full materialization via the `noop` sink (all
  *     columns computed, rows fully produced), not `count()` — `count()`
  *     lets Catalyst prune every projected column.
  *
  * Also times MLlib's own ALS on the identical ratings/hyperparameters as
  * the in-repo baseline the BASELINE.md protocol asks for (`als_train_graft`
  * vs `als_train_mllib`).
  */
object Bench {
  /** Locale-pinned %.2f: the f-interpolator formats through the JVM
    * default locale, so on a comma-decimal locale (de_DE) it would emit
    * `0,57` — invalid JSON — into every artifact line (round-14 ADVICE).
    */
  private def jnum(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Shuffle/spill codec knob (opt r18, guide §2.3): default stays
      // Spark's lz4 so the bench of record is comparable round-over-round;
      // zstd measured 14-31% fewer shuffle-scratch bytes at wall parity on
      // the ×100 dedup rows (io_codec_ab_x100_r18.json) — the production
      // setting for scratch-bound (wall 3) deployments.
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"))
      // NOTE: spark.driver.memory cannot be set here — in local mode the
      // driver JVM already exists. Heap comes from the fork's -Xmx, which
      // build.sbt derives from SPARK_DRIVER_MEM (javaOptions).
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // Per-query JVM diagnostics sidecar (round-13: the r12 sf0.1 artifact
    // read two untouched queries 2.6x out of band in-suite vs isolated;
    // this names what the 124-query single-JVM run accumulates). One JSONL
    // row per query: GC time/count delta, heap after the post-query GC,
    // metaspace, JIT code-cache occupancy (a full code cache silently
    // disables compilation and de-optimizes tight-loop queries), and
    // storage-memory held by persisted RDDs.
    val diagPath = sys.env.get("SPARK_GRAFT_BENCH_DIAG")
    val diagOut = diagPath.map(p => new java.io.PrintWriter(
      new java.io.FileWriter(p, /*append=*/ false)))
    import scala.jdk.CollectionConverters._
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    val poolBeans = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    def gcSnapshot(): (Long, Long) =
      (gcBeans.map(_.getCollectionTime).sum, gcBeans.map(_.getCollectionCount).sum)
    def poolUsed(nameFrag: String): Long =
      poolBeans.filter(_.getName.contains(nameFrag)).map(_.getUsage.getUsed).sum
    def diag(name: String, wallSec: Double, gcBefore: (Long, Long)): Unit =
      diagOut.foreach { w =>
        val (gcMs, gcN) = gcSnapshot()
        val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
        val storage = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
        val codeCache = poolUsed("CodeHeap") + poolUsed("CodeCache")
        w.println(
          s"""{"q":"$name","sec":$wallSec,"gc_ms":${gcMs - gcBefore._1},"gc_n":${gcN - gcBefore._2},""" +
          s""""heap_mb":${heap / (1 << 20)},"meta_mb":${poolUsed("Metaspace") / (1 << 20)},""" +
          s""""codecache_mb":${codeCache / (1 << 20)},"storage_mb":${storage / (1 << 20)},""" +
          s""""rdds":${spark.sparkContext.getPersistentRDDs.size}}""")
        w.flush()
      }

    // Untimed warmup: codegen-compiler classes, the noop sink lookup, and
    // parquet reader init are one-time session state that would otherwise
    // be billed entirely to the alphabetically-first query (als_csv_ratings
    // measured ~2x its steady-state cost). One tiny scan + one tiny
    // aggregate exercise both paths without touching any query's own data
    // volume.
    try {
      Tables.load(spark, sfDir, "region").write.format("noop").mode("overwrite").save()
      spark.range(1 << 14).selectExpr("sum(id) AS s")
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }

    // ---- load-window noise meter (round-13 verdict #3) ----
    // This box has multi-hour EXTERNAL load windows that inflate every
    // reading 1.4-2x (SCALING.md §10.1-10.2); r12 lost a verdict item to
    // an artifact taken inside one, and r13 burned re-runs reading the
    // q01 warmup by hand. The meter is a FIXED data-independent workload
    // (256M-row hash + 64k-key aggregate: CPU + map-side combine + one
    // small shuffle), so one quiet baseline applies at every sf/tier.
    // Median of 3 after its own codegen warm; the stamp goes into every
    // artifact JSON, and SPARK_GRAFT_METER_REFUSE=1 makes a loaded box a
    // hard refusal (exit 3) instead of a silently-polluted artifact —
    // round-close runs set it.
    import org.apache.spark.sql.functions.{col, count, lit, pmod}
    def meterOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 256L << 20, 1, 32)
        .select(pmod(col("id") * 2654435761L, lit(65536L)).as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val meterSec = {
      try {
        meterOnce() // untimed: the meter's own codegen/first-touch
        val runs = Seq.fill(3)(meterOnce()).sorted
        runs(1)
      } catch { case _: Throwable => -1.0 }
    }
    // quiet baseline on this box: 0.55-0.67 s median-of-3 at local[32]
    // (4 fresh-JVM calibration runs, r14); 0.9 ≈ 1.4x headroom, the low
    // edge of the documented 1.4-2x load-window inflation band
    val meterQuietMax = sys.env.get("SPARK_GRAFT_METER_QUIET_MAX")
      .flatMap(_.toDoubleOption).getOrElse(0.9)
    val loadStamp =
      if (meterSec < 0) "unknown" else if (meterSec <= meterQuietMax) "quiet" else "loaded"
    System.err.println(f"[bench] noise meter $meterSec%.2fs -> $loadStamp (quiet <= $meterQuietMax%.2fs)")
    val meterJson =
      s""""meter_sec":${jnum(meterSec)},"meter_quiet_max":${jnum(meterQuietMax)},"load_stamp":"$loadStamp""""
    if (loadStamp == "loaded" && sys.env.get("SPARK_GRAFT_METER_REFUSE").exists(_ == "1")) {
      val refusal =
        s"""{"metric":"refused","value":-1,"unit":"sec",$meterJson,"sf":"$sfDir"}"""
      println(refusal)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(sys.env.getOrElse(
          "SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_full.json")),
        (refusal + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
      spark.stop()
      sys.exit(3)
    }

    def timed(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      try {
        body
        timings(name) = (System.nanoTime() - t0) / 1e9
        // stderr progress: long scale-tier runs are monitored live, and a
        // hung query is indistinguishable from a slow one without this.
        System.err.println(f"[bench] $name ${timings(name)}%.2fs")
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          System.err.println(s"[bench] $name FAILED: ${errors(name)}")
      }
    }

    // Pre-train the MLlib model used by the als_rmse_vs_mllib gate query
    // UNTIMED (round-5 verdict "What's wrong" #3: a query that both trains
    // and times a competitor model pollutes the bench distribution — the
    // memoized value makes the timed run measure only our own scoring).
    try graft.queries.Queries.prewarmMllibRmse(spark, sfDir)
    catch { case _: Throwable => () }
    try graft.queries.Queries.prewarmMllibImplicitMpr(spark, sfDir)
    catch { case _: Throwable => () }

    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run (targeted scale-tier
    // probes); SPARK_GRAFT_BENCH_SKIP=q1,q2 excludes queries (the ×100
    // full-suite run drops the documented exact/parity baselines whose
    // quadratic cost is the point of their *_approx twins). The
    // head-to-head fork is skipped under either filter — partial runs
    // compare against the committed order-symmetric artifacts instead.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])

    // One-time costs as their OWN labeled rows (round-13 verdict #2): the
    // shared session-model training used to land inside whichever als_*
    // row ran first, and a fresh tier's variant ingest shred inside
    // events_json_variant — both shifted with suite composition, making
    // tier rows unattributable round-over-round. Timed here under their
    // own names so (a) every als_* row measures its operator against the
    // warmed shared model, (b) the one-time costs stay visible in the
    // artifact instead of hiding in an untimed phase. ONLY-filtered probe
    // runs skip them (a targeted probe wants the legacy cold placement it
    // asks for); skip-filtered tier runs keep them.
    if (only.isEmpty) {
      timed("als_session_train") {
        graft.queries.Queries.prewarmSessionModel(spark, sfDir)
      }
      spark.catalog.clearCache()
      timed("variant_ingest_shred") {
        graft.queries.Queries.prewarmShreddedEvents(spark, sfDir)
      }
      spark.catalog.clearCache()
      System.gc()
    }

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) && !skip.contains(name) }
      .foreach { case (name, fn) =>
      val gcBefore = gcSnapshot()
      timed(name) {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      // isolate queries: drop DataFrame caches left by bucketed operators
      // and nudge the ContextCleaner (broadcast/shuffle cleanup is
      // GC-driven; with a large heap nothing collects between queries and
      // accumulated state slows later queries by an order of magnitude)
      spark.catalog.clearCache()
      // catalog.clearCache() misses RDD-level persists (blocked-ALS
      // intermediates, checkpointed component frontiers); a leak here
      // occupies storage memory for the REST of the suite and shows up as
      // late-suite inflation, so unpersist and name the leaker. The
      // session models' factor RDDs (SessionArtifacts) are EXEMPT: they
      // are shared session state, and sweeping them forces every later
      // ALS query to recompute factors from lineage (measured
      // als_item_neighbors 21→56 s at ×10 under such a sweep).
      val pinned = graft.queries.SessionArtifacts.pinnedRddIds
      val leaked = spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !pinned.contains(id) }
      if (leaked.nonEmpty) {
        System.err.println(s"[bench] $name leaked ${leaked.size} persistent RDD(s)")
        leaked.valuesIterator.foreach(_.unpersist(blocking = false))
      }
      System.gc()
      diag(name, timings.getOrElse(name, -1.0), gcBefore)
    }

    // Head-to-head ALS baseline (BASELINE.md protocol rows 2+3): forked into
    // its OWN JVM. Round-5 verdict: running it in-process as the last thing
    // after 102 queries measured JVM decay (85s transform), not the plan; a
    // fresh JVM measures ~1.0x vs MLlib. Falls back to in-process only if
    // the fork itself cannot start.
    var blas = HeadToHead.blasImpl()
    if (only.isEmpty && skip.isEmpty) locally {
      val h2hNames = Seq("als_train_graft", "als_train_mllib",
        "als_transform_graft", "als_transform_mllib")
      try {
        val (rows, b) = HeadToHead.forkAndParse(sfDir, cpus)
        rows.foreach { case (k, v) =>
          if (h2hNames.contains(k)) timings(k) = v
        }
        b.foreach(blas = _)
        val missing = h2hNames.filterNot(timings.contains)
        if (missing.nonEmpty) sys.error(s"head-to-head rows missing: $missing")
      } catch {
        case e: Throwable =>
          errors("als_head_to_head_fork") =
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          // In-process fallback — numbers will carry end-of-suite JVM state,
          // but a contaminated row beats an absent one, and the recorded
          // fork error flags it.
          graft.queries.SessionArtifacts.clear()
          spark.catalog.clearCache()
          System.gc()
          try timings ++= HeadToHead.protocol(spark, sfDir)
          catch { case e2: Throwable =>
            errors("als_head_to_head_in_process") =
              Option(e2.getMessage).getOrElse(e2.getClass.getName).take(200)
          }
      }
    }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = timings.values.sum

    // END-of-run meter (round 15): the r15 ×10 regeneration showed an
    // external load window arriving AFTER the start-of-run sample — every
    // row inflated 1.2-1.8× under a "quiet" stamp. The suite is long; one
    // sample at t=0 cannot certify it. Meter again now: the artifact
    // stamp is quiet only if BOTH samples are quiet, and refusal mode
    // re-checks at the end (the artifact is still written, labeled, so a
    // retry loop reruns instead of keeping a polluted quiet-looking file).
    val meterEndSec = {
      try { val runs = Seq.fill(3)(meterOnce()).sorted; runs(1) }
      catch { case _: Throwable => -1.0 }
    }
    val loadStampBoth =
      if (meterSec < 0 || meterEndSec < 0) "unknown"
      else if (meterSec <= meterQuietMax && meterEndSec <= meterQuietMax) "quiet"
      else "loaded"
    System.err.println(f"[bench] end meter $meterEndSec%.2fs -> combined stamp $loadStampBoth")
    val meterJsonFinal =
      s""""meter_sec":${jnum(meterSec)},"meter_end_sec":${jnum(meterEndSec)},""" +
      s""""meter_quiet_max":${jnum(meterQuietMax)},"load_stamp":"$loadStampBoth""""

    // Full-precision record → file (the driver/judge only sees the LAST
    // ~2000 chars of stdout, so the complete map lives here, committed).
    // SPARK_GRAFT_BENCH_OUT redirects it — a scale-tier run must not
    // clobber the committed sf0.1 artifact the docs cite.
    val fullQs = timings.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec",$meterJsonFinal,"queries":$fullQs,"errors":$es,"blas":${jstr(blas)},"sf":${jstr(sfDir)}}"""
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_full.json")),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }

    // Stdout line, sized to survive tail-truncation: the head-to-head ALS
    // entries always included, then remaining queries slowest-first until
    // the budget; anything cut is summed into "_rest" (with its count), so
    // value == sum(queries.values) still holds.
    //
    // FULL-SUITE runs name a PINNED row set instead of slowest-first
    // (opt r19, r18 verdict #4): the adaptive budget demoted 4 rows into
    // _rest between r17 and r18 purely because other rows got slower, which
    // silently breaks the driver's per-query round-over-round comparison.
    // The pinned set is every row the r18 driver line named plus the 4 it
    // demoted (62 rows ≈ 1750 chars, inside the driver's 2000-char stdout
    // tail with margin); membership now only changes by an explicit edit
    // here. Filtered probe/tier runs keep the adaptive line — a targeted
    // probe must name whatever it ran.
    val budget = 1900
    val headline = Seq(
      "als_train_graft", "als_train_mllib",
      "als_transform_graft", "als_transform_mllib").filter(timings.contains)
    val pinnedFullSuite = Seq(
      "als_session_train", "als_csv_ratings", "als_foldin", "als_foldin_implicit",
      "als_implicit_vs_mllib", "als_index_build", "als_item_neighbors",
      "als_item_neighbors_approx", "als_mse", "als_negative_samples",
      "als_nonnegative_factors", "als_online_refresh", "als_predictions",
      "als_rank32_factors", "als_rank64_factors", "als_ratings",
      "als_recommend_approx", "als_rmse_vs_mllib", "bucketed_join",
      "decontaminate", "dedup_boilerplate", "dedup_clusters", "dedup_embedding",
      "dedup_embedding_anchors", "dedup_incremental_minhash",
      "dedup_minhash_grouped", "dedup_minhash_keepers", "dedup_ngram_jaccard",
      "dedup_ngram_kernel", "dedup_recall", "dedup_simhash_signatures",
      "dedup_span_pairs", "docs_partition_overwrite", "embedding_pca",
      "pipeline_end_to_end", "q11_rollup", "q20_brand_revenue",
      "q23_sql_interface", "q24_cube", "sim_drift_codebook", "sim_drift_recall",
      "sim_ivf_append", "sim_ivf_serve", "sim_mips_codebook", "sim_pq_codebook",
      "sim_recall", "sim_topk_ivf", "sim_topk_ivfpq", "sim_topk_lsh", "sim_topk_mips",
      "stream_dedup", "stream_events_daily", "stream_index_maintenance",
      "stream_purchase_views", "stream_sessions", "text_langid_fingerprint",
      "text_oov_quality", "text_repetition", "text_winnow")
    val fullSuite = only.isEmpty && skip.isEmpty
    val rest =
      if (fullSuite) pinnedFullSuite.filter(timings.contains).map(k => k -> timings(k))
      else timings.toSeq.filterNot { case (k, _) => headline.contains(k) }.sortBy(-_._2)
    val prefix = s"""{"metric":"total","value":${jnum(total)},"unit":"sec",$meterJsonFinal,"queries":{"""
    val suffix = s"""},"errors":$es,"blas":${jstr(blas)},"sf":${jstr(sfDir)}}"""
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = prefix.length + suffix.length + 60 // reserve room for "_rest"
    var cutSum = 0.0
    var cutN = 0
    val namedSet = headline.toSet ++ rest.iterator.map(_._1)
    (headline.map(k => k -> timings(k)) ++ rest).foreach { case (k, v) =>
      val entry = s"${jstr(k)}:${jnum(v)}"
      if (used + entry.length + 1 <= budget) { entries += entry; used += entry.length + 1 }
      else {
        cutSum += v; cutN += 1
        // a pinned row must never leave the line unannounced: the
        // round-over-round comparison reads rows by name
        if (fullSuite)
          System.err.println(s"[bench] WARNING: pinned row $k cut from the stdout line " +
            s"by the $budget-char budget; summed into _rest")
      }
    }
    // rows outside the named set (the pinned-membership path) still sum
    // into _rest so value == sum(queries.values) holds
    timings.foreach { case (k, v) =>
      if (!namedSet.contains(k)) { cutSum += v; cutN += 1 }
    }
    if (cutN > 0) entries += s""""_rest":${jnum(cutSum)},"_rest_n":$cutN"""
    println(prefix + entries.mkString(",") + suffix)
    diagOut.foreach(_.close())
    spark.stop()
    if (loadStampBoth != "quiet" &&
        sys.env.get("SPARK_GRAFT_METER_REFUSE").exists(_ == "1"))
      sys.exit(3) // artifact written + labeled; retry loops rerun it
  }
}
