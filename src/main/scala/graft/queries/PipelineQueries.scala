package graft.queries

import graft.ops.{Bucketing, Dedup, Multimodal, PipelineOps, TextOps}
import graft.queries.OracleSql.spread16Steps
import graft.queries.Queries.{csvWritten, dirKey, t}
import graft.streaming.EventsStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The data-pipeline, IO and multimodal surface: sources and sinks,
  * layouts, splits and sampling, sequence packing, the composed pipeline
  * and real codec decode.
  * See [[Queries]] for the determinism conventions.
  */
object PipelineQueries {

  /** Dynamic partition overwrite — the incremental corpus-refresh write:
    * a lang-partitioned layout gets ONE partition's documents replaced
    * (re-crawled text, uppercased here as the stand-in) while every other
    * partition's files stay untouched, via
    * `partitionOverwriteMode=dynamic` (STATIC would drop them all). The
    * oracle replays the merge: lang='de' rows transformed, others as
    * ingested.
    */
  val docsPartitionOverwrite: QueryDef = QueryDef.withOracle(
    """SELECT doc_id, lang,
      |  md5(CASE WHEN lang = 'de' THEN upper(text) ELSE text END) AS text_md5
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val root = s"/tmp/graft_docs_dpo_${dirKey(dir)}"
    if (!csvWritten.contains(root)) {
      EventsStream.deleteRecursively(new java.io.File(root))
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
      docs.write.partitionBy("lang").parquet(root)
      // the "re-crawl" of one partition: only lang=de is rewritten
      val refreshed = docs.where(col("lang") === "de")
        .withColumn("text", upper(col("text")))
      refreshed.write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang")
        .parquet(root)
      csvWritten.add(root)
    }
    s.read.parquet(root)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** Custom DataSource V2 scan: the synthetic-docs connector read with a
    * pushed doc_id range (narrows partition planning inside the source)
    * and row-level projection. Content is pure md5 arithmetic on doc_id,
    * so DuckDB replays the entire table from range() — hash-checking a
    * source that owns its own data, plus its pushdown and pruning paths.
    */
  val syntheticSourceScan: QueryDef = QueryDef.withOracle(
    """WITH d AS (
      |  SELECT r AS doc_id,
      |    md5(r || '|syn') AS body_hash,
      |    10 + ('0x'||substr(md5(r || '|syn'),1,14))::BIGINT % 90 AS n_tokens
      |  FROM range(0, 5000) t(r)
      |  WHERE r BETWEEN 1000 AND 3999)
      |SELECT doc_id, body_hash, CAST(n_tokens AS BIGINT) AS n_tokens
      |FROM d ORDER BY doc_id""".stripMargin) { (s, _) =>
    s.read.format("graft.sources.SyntheticDocs")
      .option("rows", "5000").option("partitions", "8").option("salt", "syn")
      .load()
      .where(col("doc_id").between(1000L, 3999L))
      .orderBy("doc_id")
  }

  /** Dynamic partition pruning: the lang-partitioned corpus joined to a
    * tiny script dimension filtered AT RUNTIME — the partition filter is
    * not known statically (it comes out of the dim's broadcast), so the
    * planner injects a `dynamicpruning` subquery into the scan's
    * PartitionFilters and only the matching lang directories are read
    * (asserted in DppSpec). At 100 TB this is the difference between
    * scanning the corpus and scanning two partitions when the dim filter
    * is only decidable at run time. Oracle replays the join statically.
    */
  val docsDppJoin: QueryDef = QueryDef.withOracle(
    """WITH dim(lang, script) AS (VALUES
      |  ('en','latin'), ('es','latin'), ('fr','latin'),
      |  ('de','latin'), ('zh','han'))
      |SELECT d.doc_id, d.lang, dim.script
      |FROM documents d JOIN dim ON d.lang = dim.lang
      |WHERE dim.script = 'han'
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val path = s"/tmp/graft_docs_part_${dirKey(dir)}"
    if (!csvWritten.contains(path)) {
      t(s, dir, "documents").write.partitionBy("lang").mode("overwrite").parquet(path)
      csvWritten.add(path)
    }
    val spark = s
    import spark.implicits._
    val dim = Seq(
      ("en", "latin"), ("es", "latin"), ("fr", "latin"),
      ("de", "latin"), ("zh", "han")).toDF("lang", "script")
    s.read.parquet(path)
      .join(dim.where(col("script") === "han"), "lang")
      .select(col("doc_id"), col("lang"), col("script"))
      .orderBy("doc_id")
  }

  /** The pretraining pipeline composed end-to-end — quality rule gate →
    * cross-document boilerplate removal (frequency counted over the
    * quality-kept corpus) → exact dedup on the CLEANED text → salted-hash
    * split assignment — as one oracle-checked query. Every stage is
    * individually oracled elsewhere; this row proves they COMPOSE: the
    * DuckDB CTE chain replays the whole pipeline and must hash-match.
    */
  val pipelineEndToEnd: QueryDef = QueryDef.withOracle(
    """WITH base AS (
      |  SELECT doc_id, text,
      |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n,
      |    str_split(text, ' ') AS toks
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, text FROM base
      |  WHERE NOT (n < 10 OR n > 1000)
      |    AND NOT (CAST(length(text) - n + 1 AS DOUBLE) / n < 2.0
      |             OR CAST(length(text) - n + 1 AS DOUBLE) / n > 12.0)
      |    AND list_max(list_transform(toks, x -> length(x))) <= 30
      |    AND CAST(len(list_filter(toks,
      |        x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for'))) AS DOUBLE)
      |      / n >= 0.02),
      |w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM q),
      |c AS (
      |  SELECT doc_id, i AS idx, array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS chunk
      |  FROM w, unnest(range(0, CAST(ceil(len(ws)/8.0) AS BIGINT))) AS t(i)),
      |freq AS (SELECT chunk FROM c GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2),
      |keptc AS (SELECT doc_id, idx, chunk FROM c WHERE chunk NOT IN (SELECT chunk FROM freq)),
      |cleaned AS (
      |  SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx) AS clean
      |  FROM keptc GROUP BY doc_id),
      |keepers AS (
      |  SELECT md5(clean) AS clean_md5, min(doc_id) AS doc_id
      |  FROM cleaned GROUP BY 1)
      |SELECT doc_id, clean_md5,
      |  CASE WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'|split'),1,14))::BIGINT % 100 < 90
      |         THEN 'train'
      |       WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'|split'),1,14))::BIGINT % 100 < 95
      |         THEN 'val'
      |       ELSE 'test' END AS split
      |FROM keepers ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val quality = TextOps.qualityFlags(docs).where(col("keep")).select("doc_id")
    val kept = docs.join(quality, "doc_id")
    val cleaned = Dedup.removeBoilerplate(kept, chunkSize = 8, minDocs = 2)
      .where(col("n_kept") > 0)
      .select(col("id").as("doc_id"), col("clean_text"))
    val keepers = cleaned
      .groupBy(md5(col("clean_text")).as("clean_md5"))
      .agg(min(col("doc_id")).as("doc_id"))
    PipelineOps.splitAssignments(keepers)
      .select("doc_id", "clean_md5", "split")
      .orderBy("doc_id")
  }

  /** DataSource V2 WRITE path: documents written through the audit sink
    * (per-partition DataWriters → commit messages → driver-side commit),
    * surfaced as the committed audit. The oracle knows what a correct
    * two-phase commit must report: one message per partition and every
    * input row accounted for.
    */
  val sinkWriteAudit: QueryDef = QueryDef.withOracle(
    """SELECT true AS committed, CAST(8 AS BIGINT) AS num_partitions,
      |  count(*) AS total_rows
      |FROM documents""".stripMargin) { (s, dir) =>
    val runId = s"gate_${dirKey(dir)}"
    t(s, dir, "documents").repartition(8)
      .write.format("graft.sources.AuditSink")
      .option("runId", runId).mode("append").save()
    val audit = graft.sources.AuditSink.results(runId)
    val spark = s
    import spark.implicits._
    Seq((audit.committed, audit.partitionRows.size.toLong, audit.totalRows))
      .toDF("committed", "num_partitions", "total_rows")
  }

  /** Semi-structured ingestion through Spark 4's VARIANT type, shredded
    * AT INGEST: `parse_json(props)` runs ONCE when the ingest layout is
    * materialized (binary VARIANT column in parquet), and every query
    * reads the stored variant with `variant_get` — no re-parse per read.
    * Round-11 measurement showed the per-query `parse_json` over 10M raw
    * strings WAS the operator's whole ×100 cost (20.1 s for a 5-row
    * output); parse-at-ingest is the fix the plan audit prescribed —
    * crawl metadata is written once and queried many times, so the parse
    * belongs on the write path. The raw-JSON parse remains the oracle
    * tier: DuckDB re-extracts the same path from the raw `props` strings,
    * so a shredding bug (wrong field, lossy encode) hash-fails the gate.
    */
  val eventsJsonVariant: QueryDef = QueryDef.withOracle(
    """SELECT event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(min(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS min_k,
      |  CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    shreddedEvents(s, dir)
      .select(
        col("event_type"),
        variant_get(col("props_var"), "$.k", "bigint").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).cast("bigint").as("sum_k"),
        min(col("k")).cast("bigint").as("min_k"),
        max(col("k")).cast("bigint").as("max_k"))
  }.sortedDump("event_type")

  /** The shredded-at-ingest events layout: full events schema with the
    * `props` JSON parsed once into a stored VARIANT column. Unlike the
    * per-JVM scratch layouts, this one PERSISTS across JVMs — parsing at
    * ingest means the parse is paid when the data lands, not once per
    * process that later reads it — guarded by a staleness marker (source
    * events dir size + newest mtime): a changed fixture rebuilds, a
    * matching marker reuses the layout as-is.
    */
  private[queries] def shreddedEvents(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_events_shredded_${dirKey(dir)}"
    def stampOf: String = {
      val files = EventsStream.walkFiles(new java.io.File(dir, "events.parquet"))
      s"${files.map(_.length()).sum}|${files.map(_.lastModified()).max}"
    }
    def isFresh(stamp: String): Boolean = {
      val marker = new java.io.File(root, "_graft_source_stamp")
      marker.isFile && new String(
        java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8") == stamp
    }
    val stamp = stampOf
    if (!isFresh(stamp)) {
      // build pid-scoped, stamp inside, then RENAME into place: a
      // concurrent JVM building the same layout never deletes a directory
      // another process is mid-write in — whoever renames first wins and
      // the loser discards its build (the shared-path hazard the
      // per-JVM scratch layouts avoid by construction)
      val build = new java.io.File(
        s"$root.build_${ProcessHandle.current().pid()}")
      EventsStream.deleteRecursively(build)
      t(s, dir, "events")
        .withColumn("props_var", parse_json(col("props")))
        .drop("props")
        .write.parquet(build.getPath)
      java.nio.file.Files.write(
        new java.io.File(build, "_graft_source_stamp").toPath,
        stamp.getBytes("UTF-8")): Unit
      if (isFresh(stamp)) EventsStream.deleteRecursively(build)
      else {
        EventsStream.deleteRecursively(new java.io.File(root))
        require(build.renameTo(new java.io.File(root)),
          s"shredded-layout rename failed: $build -> $root")
      }
    }
    s.read.parquet(root)
  }

  /** Per-user temporal holdout over events (leave-last-2-out by event
    * time, event_id tie-break): the causality-respecting eval split.
    * Oracle replays the descending rank and the cut.
    */
  val temporalSplitQ: QueryDef = QueryDef.withOracle(
    """SELECT event_id, user_id,
      |  CASE WHEN rk <= 2 THEN 'test' ELSE 'train' END AS split
      |FROM (
      |  SELECT event_id, user_id,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rk
      |  FROM events) x
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    PipelineOps.temporalSplit(
      t(s, dir, "events"), entityCol = "user_id", tsCol = "ts",
      tieBreakCol = "event_id", holdout = 2)
      .select("event_id", "user_id", "split")
  }.sortedDump("event_id")

  /** Deterministic train/val/test split (90/5/5) by salted portable hash of
    * the row id: reproducible across engines/cluster sizes/retries (no
    * `rand()`), stateless per row (a codegen'd predicate under the scan —
    * the only split shape that holds at 100 TB). Hash-checked: DuckDB
    * replays the identical md5-prefix bucket arithmetic.
    */
  val pipelineSplit: QueryDef = QueryDef.withOracle(
    """WITH b AS (
      |  SELECT doc_id,
      |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'|split'),1,14))::BIGINT % 100 AS bucket
      |  FROM documents)
      |SELECT doc_id, bucket,
      |  CASE WHEN bucket < 90 THEN 'train'
      |       WHEN bucket < 95 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
    PipelineOps.splitAssignments(t(s, dir, "documents"))
      .select("doc_id", "bucket", "split")
      .orderBy("doc_id")
  }

  /** Stratified cap-N sample: at most 30 docs per language, picked by
    * deterministic hash rank (window top-N per stratum; the fractional
    * no-shuffle variant is `PipelineOps.sampleFraction`). Hash-checked
    * against DuckDB's ROW_NUMBER over the same hash order.
    */
  val sampleStratified: QueryDef = QueryDef.withOracle(
    """WITH r AS (
      |  SELECT lang, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
      |      ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'|sample'),1,14))::BIGINT % 1073741824,
      |      doc_id) AS rn
      |  FROM documents)
      |SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn
      |FROM r WHERE rn <= 30 ORDER BY lang, rn""".stripMargin) { (s, dir) =>
    PipelineOps.sampleCapPerStratum(t(s, dir, "documents"), "lang", cap = 30)
      .select("lang", "doc_id", "rn")
      .orderBy("lang", "rn")
  }

  /** Domain-mixture sampling: each source stratum sampled at its own rate
    * (here derived arithmetically from the source index: 100 % / 50 % /
    * 25 % / 10 % by src-number mod 4) via the stateless salted-hash
    * predicate — the no-shuffle way a run hits a target domain mix.
    * Hash-checked: DuckDB replays the md5-bucket arithmetic per
    * (doc_id, source) exactly.
    */
  val mixtureSampleBySource: QueryDef = QueryDef.withOracle(
    """WITH w AS (
      |  SELECT doc_id, source,
      |    CASE CAST(substr(source, 4) AS INT) % 4
      |      WHEN 0 THEN 1000 WHEN 1 THEN 500 WHEN 2 THEN 250 ELSE 100 END AS thr,
      |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'|mix|'||source),1,14))::BIGINT % 1000
      |      AS b
      |  FROM documents)
      |SELECT doc_id, source FROM w WHERE b < thr ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val srcNum = substring(col("source"), 4, 10).cast("int")
    val frac = when(pmod(srcNum, lit(4)) === 0, 1.0)
      .when(pmod(srcNum, lit(4)) === 1, 0.5)
      .when(pmod(srcNum, lit(4)) === 2, 0.25)
      .otherwise(0.1)
    PipelineOps.mixtureSample(t(s, dir, "documents"), "source", frac)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** Training-sequence packing: shard → deterministic order → running
    * token offset → fixed-budget sequence id (chunked concatenation; docs
    * may cross sequence boundaries, exactly like pretraining packing).
    * Pure integer window arithmetic, so DuckDB replays it bit-for-bit.
    */
  val packSequencesQ: QueryDef = QueryDef.withOracle(
    """WITH d AS (
      |  SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'|pack'),1,14))::BIGINT AS h
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, n_tokens, h % 8 AS shard,
      |    CAST(coalesce(SUM(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS start_offset
      |  FROM d)
      |SELECT doc_id, n_tokens, CAST(shard AS BIGINT) AS shard, start_offset,
      |  CAST(floor(start_offset / 256.0) AS BIGINT) AS seq_id
      |FROM o ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("bigint").as("n_tokens"))
    PipelineOps.packSequences(docs, "n_tokens", budget = 256, shards = 8)
      .select("doc_id", "n_tokens", "shard", "start_offset", "seq_id")
      .orderBy("doc_id")
  }

  /** Z-order (Morton) layout of the events table on (user bucket, hour
    * bucket) — `PipelineOps.zOrderKey` composed from built-in shift/mask
    * functions — summarized as the 32-file layout a z-sorted write would
    * produce: per file, row count and the user/hour min-max spans that a
    * min/max-pruned scan would consult. Sorting by the interleaved key
    * bounds BOTH spans per file (a ts-sorted layout gives every file the
    * full user range); PipelineOpsSpec measures the bounding-box win
    * directly. The global rank is computed the way a 100 TB layout job
    * must: `repartitionByRange(zkey)` + in-partition sort + partition-
    * LOCAL row_number + broadcast per-partition offsets — rn is the exact
    * global rank in the (zkey, event_id) total order no matter where the
    * sampled range boundaries land, and no single task ever holds the
    * table (the naive `Window.orderBy` global window does exactly that —
    * "Moving all data to a single partition"). Every bit op replays
    * exactly in DuckDB.
    */
  val eventsZorderLayout: QueryDef = QueryDef.withOracle {
    val xs = spread16Steps("x", "ub")
    val ys = spread16Steps("y", "tb")
    s"""WITH b AS (
       |  SELECT event_id, user_id,
       |    user_id & 65535 AS ub,
       |    (CAST(floor(epoch(ts)) AS BIGINT) // 3600) & 65535 AS tb
       |  FROM events),
       |s0 AS (SELECT *, ${xs(0)}, ${ys(0)} FROM b),
       |s1 AS (SELECT *, ${xs(1)}, ${ys(1)} FROM s0),
       |s2 AS (SELECT *, ${xs(2)}, ${ys(2)} FROM s1),
       |s3 AS (SELECT *, ${xs(3)}, ${ys(3)} FROM s2),
       |s4 AS (SELECT *, ${xs(4)}, ${ys(4)} FROM s3),
       |z AS (SELECT event_id, user_id, tb, (x4 | (y4 << 1)) AS zkey FROM s4),
       |r AS (SELECT *, row_number() OVER (ORDER BY zkey, event_id) AS rn,
       |        COUNT(*) OVER () AS n FROM z)
       |SELECT CAST((rn - 1) // CAST(CEIL(n / 32.0) AS BIGINT) AS BIGINT) AS file_id,
       |  COUNT(*) AS n_rows,
       |  MIN(user_id) AS u_min, MAX(user_id) AS u_max,
       |  MIN(tb) AS h_min, MAX(tb) AS h_max
       |FROM r GROUP BY 1 ORDER BY file_id""".stripMargin
  } { (s, dir) =>
    val ev = t(s, dir, "events")
    val keyed = ev.select(
      col("event_id"), col("user_id"),
      col("user_id").bitwiseAND(lit(65535L)).as("ub"),
      expr("unix_timestamp(ts) div 3600").bitwiseAND(lit(65535L)).as("tb"))
      .withColumn("zkey", PipelineOps.zOrderKey(col("ub"), col("tb")))
    val n = keyed.count()
    val chunk = math.ceil(n / 32.0).toLong
    val width = s.sparkContext.defaultParallelism
    // distributed global rank: range-partition + sort the total order,
    // then zipWithIndex (partition-local index + broadcast per-partition
    // offsets, computed over ONE partitioner instance so the two internal
    // jobs can never disagree on boundaries — and rn is the rank in the
    // (zkey, event_id) TOTAL order regardless of where the sampled
    // boundaries land). One of the rare justified RDD drops: no
    // DataFrame operator yields a global index without funnelling the
    // table through a single window task.
    val sorted = keyed
      .repartitionByRange(width, col("zkey"), col("event_id"))
      .sortWithinPartitions("zkey", "event_id")
      .select("event_id", "user_id", "tb")
    val spark2 = s
    import spark2.implicits._
    sorted.rdd
      .zipWithIndex()
      .map { case (r, idx) => (r.getLong(0), r.getLong(1), r.getLong(2), idx + 1L) }
      .toDF("event_id", "user_id", "tb", "rn")
      .withColumn("file_id", ((col("rn") - 1) / lit(chunk)).cast("bigint"))
      .groupBy("file_id")
      .agg(
        count(lit(1)).as("n_rows"),
        min("user_id").as("u_min"), max("user_id").as("u_max"),
        min("tb").as("h_min"), max("tb").as("h_max"))
      .orderBy("file_id")
  }

  /** Size-targeted compaction plan over the partitioned corpus sink
    * (`PipelineOps.compactionPlan`): per source, row count, estimated
    * bytes, and `max(1, ceil(bytes/64 KiB))` output files — the layout
    * audit that keeps a 100 TB partitioned write from fragmenting into
    * millions of small files. The rewrite itself (`compactTo`: broadcast
    * plan join → deterministic hash shard → keyed repartition) is
    * exercised and file-count-bounded in PipelineOpsSpec.
    */
  val compactionPlanQ: QueryDef = QueryDef.withOracle(
    """SELECT source, COUNT(*) AS n_rows,
      |  CAST(SUM(n_chars) AS BIGINT) AS est_bytes,
      |  GREATEST(1, CAST(CEIL(SUM(n_chars) / 65536.0) AS BIGINT)) AS target_files
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    PipelineOps.compactionPlan(
      t(s, dir, "documents"), Seq("source"), col("n_chars"), 65536L)
      .withColumnRenamed("rows", "n_rows")
      .orderBy("source")
  }

  /** The documents table with text integrity via md5 — the round-trip oracle. */
  private val docsRoundtripOracleSql: String =
    """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  /** JSONL source/sink round-trip: documents written as JSON-lines (the
    * de-facto LLM corpus interchange format), read back with an explicit
    * schema, and checked against the original table (text integrity via
    * md5) — JSON string escaping must round-trip every character.
    */
  val docsJsonlRoundtrip: QueryDef = QueryDef.withOracle(docsRoundtripOracleSql) { (s, dir) =>
    val path = s"/tmp/graft_docs_jsonl_${dirKey(dir)}"
    if (!csvWritten.contains(path)) {
      t(s, dir, "documents").write.mode("overwrite").json(path)
      csvWritten.add(path)
    }
    s.read
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .json(path)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** ORC source/sink round-trip (same contract as docs_jsonl_roundtrip,
    * over the other columnar format Spark ships natively) — closes the
    * format matrix: parquet (every query), CSV (als_csv_ratings), JSONL
    * (docs_jsonl_roundtrip), ORC (here).
    */
  val docsOrcRoundtrip: QueryDef = QueryDef.withOracle(docsRoundtripOracleSql) { (s, dir) =>
    val path = s"/tmp/graft_docs_orc_${dirKey(dir)}"
    if (!csvWritten.contains(path)) {
      t(s, dir, "documents").write.mode("overwrite").orc(path)
      csvWritten.add(path)
    }
    s.read.orc(path)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** Length-distribution audit: equi-width histogram of document n_chars
    * (12 buckets over [0, 600), under/overflow clamped into the edge
    * buckets). Oracle replays the clamped floor arithmetic.
    */
  val docsLengthHistogram: QueryDef = QueryDef.withOracle(
    """WITH b AS (
      |  SELECT CAST(least(greatest(floor((n_chars - 0.0) / 50.0), 0.0), 11.0) AS BIGINT) AS bucket
      |  FROM documents)
      |SELECT bucket, 0.0 + bucket * 50.0 AS bucket_lo,
      |  0.0 + (bucket + 1) * 50.0 AS bucket_hi,
      |  count(*) AS n
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
    PipelineOps.histogram(t(s, dir, "documents"), "n_chars", lo = 0.0, hi = 600.0, nBins = 12)
      .orderBy("bucket")
  }

  /** Schema-evolution read: two parquet generations of the documents
    * table — v1 written without the `source` column (the early-crawl
    * schema), v2 with it — read back through mergeSchema so v1 rows
    * surface NULL source. The oracle replays the generation split with a
    * CASE. Schema drift across file generations is a fact of life for a
    * long-lived 100 TB corpus; the merged read is Spark's native answer.
    */
  val docsSchemaEvolution: QueryDef = QueryDef.withOracle(
    """SELECT doc_id, lang,
      |  CASE WHEN doc_id % 2 = 1 THEN source END AS source
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val root = s"/tmp/graft_docs_evo_${dirKey(dir)}"
    if (!csvWritten.contains(root)) {
      val docs = t(s, dir, "documents")
      docs.where(pmod(col("doc_id"), lit(2L)) === 0)
        .select("doc_id", "lang")
        .write.mode("overwrite").parquet(s"$root/v1")
      docs.where(pmod(col("doc_id"), lit(2L)) === 1)
        .select("doc_id", "lang", "source")
        .write.mode("overwrite").parquet(s"$root/v2")
      csvWritten.add(root)
    }
    s.read.option("mergeSchema", "true").parquet(s"$root/v1", s"$root/v2")
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Range-sorted layout scan: documents rewritten once per JVM with
    * `repartitionByRange` + `sortWithinPartitions` on doc_id (each file a
    * disjoint id range — parquet min/max stats then let a range predicate
    * skip whole files' row groups), read back through a selective range
    * filter. The oracle applies the same filter to the raw table: layout
    * must be invisible in the result.
    */
  val docsSortedScan: QueryDef = QueryDef.withOracle(
    """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
      |FROM documents
      |WHERE doc_id BETWEEN 42 AND 137
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val path = s"/tmp/graft_docs_rangesorted_${dirKey(dir)}"
    Bucketing.writeRangeSorted(t(s, dir, "documents"), path, numFiles = 8, sortCol = "doc_id")
    s.read.parquet(path)
      .where(col("doc_id").between(42L, 137L))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** Multimodal: stub-decoded per-asset feature values through the
    * codegen'd expression path, one `(asset_id, modality, dim, value)`
    * scalar row per dimension — hash-checked: the whole chain (asset
    * derivation, modality assignment, per-dim stub decode) is replayed in
    * DuckDB via the portable md5-prefix hash. The xxhash64 production stub
    * and the mapPartitions codec-init pattern stay spec'd in MultimodalSpec.
    */
  val multimodalFeatures: QueryDef = QueryDef.withOracle(
    """WITH assets AS (
      |  SELECT doc_id AS asset_id,
      |    CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
      |    text
      |  FROM documents),
      |dims AS (SELECT unnest(generate_series(0, 7)) AS dim)
      |SELECT asset_id, modality, CAST(dim AS BIGINT) AS dim,
      |  (('0x' || substr(md5(concat_ws('#', text, dim::VARCHAR)), 1, 14))::BIGINT % 1000000) / 1000000.0 AS value
      |FROM assets, dims
      |ORDER BY asset_id, dim""".stripMargin) { (s, dir) =>
    Multimodal.assetsFromDocuments(t(s, dir, "documents"))
      .select(col("asset_id"), col("modality"), col("payload"),
        explode(sequence(lit(0), lit(7))).as("dim"))
      .select(col("asset_id"), col("modality"), col("dim").cast("bigint").as("dim"),
        Multimodal.stubDecodeFeaturePortable(col("payload"), col("dim")).as("value"))
      .orderBy("asset_id", "dim")
  }

  /** Multimodal: video frame sampling row-explosion, hash-checked — the
    * frame-index arithmetic and payload slicing replay exactly in DuckDB
    * (fixture payloads are ASCII text, so the byte slice the operator takes
    * equals the char slice the oracle takes; dumped decoded for comparison).
    */
  val multimodalFrames: QueryDef = QueryDef.withOracle(
    """WITH assets AS (
      |  SELECT doc_id AS asset_id, text, (n_chars % 100) + 1 AS n_frames
      |  FROM documents
      |  WHERE (doc_id % 3) = 2),
      |frames AS (
      |  SELECT asset_id, text,
      |    unnest(generate_series(0, greatest(n_frames - 1, 0), 10)) AS frame_idx
      |  FROM assets)
      |SELECT asset_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |  substring(text, CAST((frame_idx * 16) % greatest(length(text), 1) + 1 AS INT), 16) AS frame_text
      |FROM frames
      |ORDER BY asset_id, frame_idx""".stripMargin) { (s, dir) =>
    Multimodal.sampleFrames(Multimodal.assetsFromDocuments(t(s, dir, "documents")))
      .select(col("asset_id"), col("frame_idx").cast("bigint").as("frame_idx"),
        decode(col("frame_payload"), "UTF-8").as("frame_text"))
      .orderBy("asset_id", "frame_idx")
  }

  /** Multimodal REAL decode (round 6, non-stub): per document an actual
    * 24-bit BMP or RIFF/WAVE file is generated (pixel/sample content a
    * closed-form function of doc_id), then decoded by the JDK's genuine
    * codecs — ImageIO's BMP reader, javax.sound's WAV parser — and reduced
    * to pixel/sample statistics ([[Multimodal.realAssets]] /
    * [[Multimodal.decodeReal]]). Because the content is closed-form, the
    * DuckDB oracle re-derives every decoded statistic arithmetically: a
    * hash match proves the full encode→real-decode round trip (stride
    * padding, bottom-up rows, BGR order, PCM endianness) bit-for-bit.
    * Mean formulas are written with the same operands the decoder divides
    * (pixel sum / pixel count) so both sides round identically.
    */
  val multimodalRealDecode: QueryDef = QueryDef.withOracle(
    """WITH img AS (
      |  SELECT doc_id,
      |    CAST(8 + (doc_id % 8) * 4 AS INTEGER) AS w,
      |    CAST(8 + (doc_id % 6) * 4 AS INTEGER) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |aud AS (
      |  SELECT doc_id,
      |    CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sr,
      |    CAST(200 + (doc_id % 100) AS BIGINT) AS n,
      |    CAST((doc_id % 1000) + 1 AS DOUBLE) AS amp
      |  FROM documents WHERE doc_id % 3 = 1)
      |SELECT doc_id AS asset_id, 'image' AS modality, w AS width, h AS height,
      |  CAST(doc_id % 256 AS DOUBLE) AS mean_r,
      |  CAST(h * (w * (w - 1) / 2) AS DOUBLE) / (CAST(w AS BIGINT) * h) AS mean_g,
      |  CAST(w * (h * (h - 1) / 2) AS DOUBLE) / (CAST(w AS BIGINT) * h) AS mean_b,
      |  CAST(NULL AS INTEGER) AS sample_rate, CAST(NULL AS BIGINT) AS n_samples,
      |  CAST(NULL AS DOUBLE) AS peak, CAST(NULL AS DOUBLE) AS duration_ms
      |FROM img
      |UNION ALL
      |SELECT doc_id, 'audio', NULL, NULL, NULL, NULL, NULL,
      |  sr, n, amp, n * 1000.0 / sr
      |FROM aud
      |ORDER BY asset_id""".stripMargin) { (s, dir) =>
    Multimodal.decodeReal(Multimodal.realAssets(t(s, dir, "documents")))
  }.sortedDump("asset_id")

  /** Multimodal REAL video decode (round-7, closes the modality matrix):
    * per `doc_id % 3 == 2` document an actual animated GIF is encoded
    * through ImageIO's GIF writer ([[Multimodal.realVideoAssets]] — frame
    * count/dims/colors closed-form in doc_id), then ImageIO's GIF reader
    * iterates every frame and reduces it to pixel statistics
    * ([[Multimodal.decodeRealVideoFrames]]). Constant-color frames keep
    * the writer's palette exact, so the oracle re-derives each frame's
    * statistics arithmetically: a hash match proves the multi-frame
    * encode→decode round trip (frame order, palette, raster) bit-for-bit.
    * Corrupt-payload rejection is spec'd in RealCodecSpec.
    */
  val multimodalRealVideo: QueryDef = QueryDef.withOracle(
    """WITH vids AS (
      |  SELECT doc_id,
      |    CAST(8 + (doc_id % 5) * 4 AS INTEGER) AS w,
      |    CAST(8 + (doc_id % 4) * 4 AS INTEGER) AS h,
      |    CAST(2 + (doc_id % 6) AS INTEGER) AS n
      |  FROM documents WHERE doc_id % 3 = 2),
      |frames AS (
      |  SELECT doc_id, w, h, unnest(generate_series(0, n - 1)) AS k FROM vids)
      |SELECT doc_id AS asset_id, CAST(k AS INTEGER) AS frame_idx,
      |  w AS width, h AS height,
      |  CAST(doc_id % 256 AS DOUBLE) AS mean_r,
      |  CAST((7 * k + 13) % 256 AS DOUBLE) AS mean_g,
      |  CAST((11 * k + 5) % 256 AS DOUBLE) AS mean_b
      |FROM frames
      |ORDER BY asset_id, frame_idx""".stripMargin) { (s, dir) =>
    Multimodal.decodeRealVideoFrames(
      Multimodal.realVideoAssets(t(s, dir, "documents")))
  }.sortedDump("asset_id", "frame_idx")

  /** REAL feature extraction (replaces the round-6 murmur-hash stub): the
    * full three-modality real-asset corpus decoded by the JDK codecs, each
    * asset reduced to an 8-dim vector of decoded-content statistics
    * ([[Multimodal.extractFeatures]]), dumped as exploded scalar rows. The
    * oracle re-derives every feature from the closed-form asset content —
    * including the double→float casts — so the featurizer's output is
    * hash-pinned, not just shaped.
    */
  val multimodalRealFeatures: QueryDef = QueryDef.withOracle(
    """WITH img AS (
      |  SELECT doc_id, CAST(8 + (doc_id % 8) * 4 AS BIGINT) AS w,
      |    CAST(8 + (doc_id % 6) * 4 AS BIGINT) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |aud AS (
      |  SELECT doc_id, 8000 + (doc_id % 4) * 4000 AS sr,
      |    200 + (doc_id % 100) AS n
      |  FROM documents WHERE doc_id % 3 = 1),
      |vid AS (
      |  SELECT doc_id, 2 + (doc_id % 6) AS n, 8 + (doc_id % 5) * 4 AS w,
      |    8 + (doc_id % 4) * 4 AS h
      |  FROM documents WHERE doc_id % 3 = 2),
      |feats AS (
      |  SELECT doc_id AS asset_id, 'image' AS modality,
      |    [1.0, CAST(w AS DOUBLE), CAST(h AS DOUBLE),
      |     CAST(doc_id % 256 AS DOUBLE),
      |     CAST(h * (w * (w - 1) / 2) AS DOUBLE) / (w * h),
      |     CAST(w * (h * (h - 1) / 2) AS DOUBLE) / (w * h), 0.0, 0.0] AS fs
      |  FROM img
      |  UNION ALL
      |  SELECT doc_id, 'audio',
      |    [2.0, CAST(sr AS DOUBLE), CAST(n AS DOUBLE),
      |     CAST((doc_id % 1000) + 1 AS DOUBLE), n * 1000.0 / sr,
      |     0.0, 0.0, 0.0]
      |  FROM aud
      |  UNION ALL
      |  SELECT doc_id, 'video',
      |    [3.0, CAST(n AS DOUBLE), CAST(w AS DOUBLE), CAST(h AS DOUBLE),
      |     CAST(doc_id % 256 AS DOUBLE), 13.0, 5.0, 0.0]
      |  FROM vid),
      |dims AS (SELECT unnest(generate_series(0, 7)) AS pos)
      |SELECT asset_id, modality, CAST(pos AS INT) AS pos,
      |  CAST(fs[pos + 1] AS FLOAT) AS value
      |FROM feats, dims
      |ORDER BY asset_id, pos""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    Multimodal.extractFeatures(
      Multimodal.realAssets(docs).union(Multimodal.realVideoAssets(docs)))
      .select(col("asset_id"), col("modality"),
        posexplode(col("features")).as(Seq("pos", "value")))
  }.sortedDump("asset_id", "pos")

  /** Partitioned-layout sink + pruned scan: documents written
    * `partitionBy(lang)` once, then read back with a partition-column
    * filter — the plan prunes to the matching directories
    * (`PartitionFilters`, zero I/O on other langs), the layout that turns
    * a 100 TB scan into a per-partition scan. Hash-checked against the
    * same filter over the original table.
    */
  val docsPartitionedScan: QueryDef = QueryDef.withOracle(
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE lang IN ('en', 'fr')
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val path = s"/tmp/graft_docs_part_${dirKey(dir)}"
    if (!csvWritten.contains(path)) {
      t(s, dir, "documents").write.partitionBy("lang").mode("overwrite").parquet(path)
      csvWritten.add(path)
    }
    s.read.parquet(path)
      .where(col("lang").isin("en", "fr"))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }
}
