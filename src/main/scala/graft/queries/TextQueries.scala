package graft.queries

import graft.ops.{PipelineOps, TextOps}
import graft.queries.Queries.t
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The text surface: feature projections, repetition and vocabulary
  * statistics, quality rules, chunking, redaction and fingerprints.
  * See [[Queries]] for the determinism conventions.
  */
object TextQueries {

  /** Full text-analysis projection (token counts, BPE estimate, length /
    * stopword / punctuation ratios, composite quality, lang-ID,
    * fingerprint) — hash-checked end-to-end: every feature is integer or
    * single-division IEEE arithmetic, and the composite score rounds via
    * the portable floor-half-up form, so DuckDB replays all eight columns
    * exactly (graduated from rows-only in round 5).
    */
  val textAnalyze: QueryDef = QueryDef.withOracle(
    """WITH base AS (
      |  SELECT doc_id, text, str_split(text, ' ') AS ts FROM documents),
      |feat AS (
      |  SELECT doc_id, text, ts,
      |    CAST(len(ts) AS BIGINT) AS n_tokens,
      |    CAST(list_sum(list_transform(ts,
      |      x -> greatest(1, CAST(ceil(length(x) / 4.0) AS BIGINT)))) AS BIGINT)
      |      AS n_tokens_bpe,
      |    CAST(list_sum(list_transform(ts, x -> length(x))) AS DOUBLE)
      |      / CAST(len(ts) AS DOUBLE) AS avg_token_len,
      |    CAST(len(list_filter(ts, x -> list_contains(
      |      ['the','a','an','and','or','of','to','in','is','it','on','for'], x))) AS DOUBLE)
      |      / CAST(len(ts) AS DOUBLE) AS stopword_ratio,
      |    CAST(length(text) - length(translate(text, '.,;:!?''"()-', '')) AS DOUBLE)
      |      / CAST(length(text) AS DOUBLE) AS punct_ratio
      |  FROM base),
      |sc AS (
      |  SELECT *,
      |    least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) AS length_score,
      |    1.0 - least(punct_ratio * 5.0, 1.0) AS punct_score,
      |    least(stopword_ratio * 4.0, 1.0) AS stop_score,
      |    len(list_intersect(ts, ['the','and','is','of','to','a','in','that','it','for'])) AS s_en,
      |    len(list_intersect(ts, ['el','la','de','que','y','los','es','una','por','con'])) AS s_es,
      |    len(list_intersect(ts, ['der','die','und','das','ist','von','mit','den','nicht','ein'])) AS s_de,
      |    len(list_intersect(ts, ['le','la','les','et','de','un','une','est','pour','que'])) AS s_fr,
      |    len(list_intersect(ts, ['的','是','了','在','我','有','和','不','人','这'])) AS s_zh
      |  FROM feat)
      |SELECT doc_id, n_tokens, n_tokens_bpe, avg_token_len, stopword_ratio, punct_ratio,
      |  floor((length_score * 0.5 + punct_score * 0.25 + stop_score * 0.25)
      |    * 1000000.0 + 0.5) / 1000000.0 AS quality,
      |  CASE WHEN greatest(s_en,s_es,s_de,s_fr,s_zh) <= 0 THEN 'und'
      |       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |       WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |       WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |       WHEN s_fr >= s_zh THEN 'fr'
      |       ELSE 'zh' END AS lang_pred,
      |  list_reduce(list_prepend(0::BIGINT, [ascii(c)::BIGINT FOR c IN str_split(text, '')]),
      |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
      |FROM sc
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextOps.analyze(t(s, dir, "documents"))
      .select(
        col("doc_id"),
        col("n_tokens").cast("bigint").as("n_tokens"),
        col("n_tokens_bpe"),
        col("avg_token_len"),
        col("stopword_ratio"),
        col("punct_ratio"),
        col("quality"),
        col("lang_pred"),
        col("fingerprint"))
      .orderBy("doc_id")
  }

  /** Gopher-style repetition metrics (duplicate 2-/3-gram fractions, top
    * bigram share) per document — the boilerplate/loop filter features.
    * Hash-checked: both engines derive the fractions from the same BIGINT
    * gram counts, so the single IEEE division is bit-identical.
    */
  val textRepetition: QueryDef = QueryDef.withOracle(
    """WITH toks AS (
      |  SELECT doc_id AS id, text, str_split(text, ' ') AS ts FROM documents),
      |pos2 AS (
      |  SELECT id, text, ts, unnest(generate_series(1, greatest(len(ts) - 1, 1))) AS p
      |  FROM toks),
      |g2 AS (
      |  SELECT id, CASE WHEN len(ts) < 2 THEN text
      |                  ELSE concat_ws(' ', ts[p], ts[p+1]) END AS g
      |  FROM pos2),
      |c2 AS (SELECT id, g, count(*) AS c FROM g2 GROUP BY id, g),
      |s2 AS (SELECT id, CAST(sum(c) AS BIGINT) AS n2, CAST(count(*) AS BIGINT) AS d2,
      |        CAST(max(c) AS BIGINT) AS m2 FROM c2 GROUP BY id),
      |pos3 AS (
      |  SELECT id, text, ts, unnest(generate_series(1, greatest(len(ts) - 2, 1))) AS p
      |  FROM toks),
      |g3 AS (
      |  SELECT id, CASE WHEN len(ts) < 3 THEN text
      |                  ELSE concat_ws(' ', ts[p], ts[p+1], ts[p+2]) END AS g
      |  FROM pos3),
      |c3 AS (SELECT id, g, count(*) AS c FROM g3 GROUP BY id, g),
      |s3 AS (SELECT id, CAST(sum(c) AS BIGINT) AS n3, CAST(count(*) AS BIGINT) AS d3
      |       FROM c3 GROUP BY id)
      |SELECT s2.id AS doc_id, n2 AS n_2grams,
      |  CAST(n2 - d2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS dup_2gram_frac,
      |  CAST(m2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS top_2gram_frac,
      |  CAST(n3 - d3 AS DOUBLE) / CAST(n3 AS DOUBLE) AS dup_3gram_frac
      |FROM s2 JOIN s3 ON s2.id = s3.id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextOps.repetitionStats(t(s, dir, "documents")).orderBy("doc_id")
  }

  /** Vocabulary analysis: top-5 terms per source by frequency — the
    * corpus-composition dashboard a curation run reads before choosing
    * mixtures/filters. Shape: explode tokens → two-phase hash aggregate on
    * (source, term) → per-source window top-k; the term-count table (the
    * only large intermediate) shuffles counts, never text rows.
    * Deterministic ties (freq desc, term asc) make it hash-checkable.
    */
  val textTopTerms: QueryDef = QueryDef.withOracle(
    """WITH tf AS (
      |  SELECT source, t AS term, CAST(count(*) AS BIGINT) AS freq FROM (
      |    SELECT source, unnest(str_split(text, ' ')) AS t FROM documents) z
      |  GROUP BY source, t),
      |r AS (
      |  SELECT source, term, freq,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY freq DESC, term)
      |      AS BIGINT) AS rank
      |  FROM tf)
      |SELECT source, term, freq, rank FROM r WHERE rank <= 5
      |ORDER BY source, rank""".stripMargin) { (s, dir) =>
    val tf = graft.ops.Parallelism.widen(t(s, dir, "documents"))
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy("source").orderBy(desc("freq"), asc("term"))
    tf.withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= 5)
      .select("source", "term", "freq", "rank")
      .orderBy("source", "rank")
  }

  /** Language-ID heuristic + rolling-hash document fingerprint, hash-checked
    * cross-engine: both are pure integer/string arithmetic, so DuckDB can
    * replay them exactly (marker-set-intersection argmax with the same
    * fixed tie order; fold `(acc*31 + code) mod 1e9+7` over characters).
    */
  val textLangidFingerprint: QueryDef = QueryDef.withOracle(
    """WITH base AS (
      |  SELECT doc_id, text, str_split(text, ' ') AS toks FROM documents),
      |scored AS (
      |  SELECT doc_id, text,
      |    len(list_intersect(toks, ['the','and','is','of','to','a','in','that','it','for'])) AS s_en,
      |    len(list_intersect(toks, ['el','la','de','que','y','los','es','una','por','con'])) AS s_es,
      |    len(list_intersect(toks, ['der','die','und','das','ist','von','mit','den','nicht','ein'])) AS s_de,
      |    len(list_intersect(toks, ['le','la','les','et','de','un','une','est','pour','que'])) AS s_fr,
      |    len(list_intersect(toks, ['的','是','了','在','我','有','和','不','人','这'])) AS s_zh
      |  FROM base)
      |SELECT doc_id,
      |  CASE WHEN greatest(s_en,s_es,s_de,s_fr,s_zh) <= 0 THEN 'und'
      |       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |       WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |       WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |       WHEN s_fr >= s_zh THEN 'fr'
      |       ELSE 'zh' END AS lang_pred,
      |  list_reduce(list_prepend(0::BIGINT, [ascii(c)::BIGINT FOR c IN str_split(text, '')]),
      |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
      |FROM scored
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.langId(col("text")).as("lang_pred"),
        TextOps.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** 32-token windows at stride 16, replayed with 1-based clamped list slices. */
  private val chunkOverlapOracleSql: String =
    """WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
      |c AS (
      |  SELECT doc_id, i AS chunk_id, ws[(i*16+1):(i*16+32)] AS cw
      |  FROM w, unnest(range(0,
      |    CAST(ceil(greatest(len(ws) - 32, 0)/16.0) AS BIGINT) + 1)) AS t(i)
      |)
      |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      |  CAST(len(cw) AS BIGINT) AS chunk_tokens,
      |  md5(array_to_string(cw, ' ')) AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** Overlapping-window chunking (32-token windows, stride 16): the
    * RAG/context-shaping pass. Oracle replays the window arithmetic with
    * 1-based clamped list slices; chunk text integrity via md5.
    */
  val chunkOverlap: QueryDef = QueryDef.withOracle(chunkOverlapOracleSql) { (s, dir) =>
    PipelineOps.chunkDocuments(t(s, dir, "documents"), window = 32, stride = 16)
      .select(
        col("id").as("doc_id"),
        col("chunk_id"),
        col("chunk_tokens"),
        md5(col("chunk_text")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** The same chunking computed by the custom Catalyst Generator (UDTF
    * surface, `graft.functions.ChunkGenerator`) instead of the
    * transform+posexplode HOF form — the generator streams chunks lazily
    * (peak memory one doc + one chunk, vs the HOF's window/stride ×
    * document transient array). Same oracle as chunk_overlap: the two
    * forms must be indistinguishable in output.
    */
  val chunkOverlapGen: QueryDef = QueryDef.withOracle(chunkOverlapOracleSql) { (s, dir) =>
    val gen = org.apache.spark.sql.GraftSqlShims.column(
      graft.functions.ChunkGenerator(
        org.apache.spark.sql.GraftSqlShims.expression(col("text")),
        org.apache.spark.sql.GraftSqlShims.expression(lit(32)),
        org.apache.spark.sql.GraftSqlShims.expression(lit(16))))
    t(s, dir, "documents")
      .select(col("doc_id"), gen)
      .select(
        col("doc_id"),
        col("chunk_id").cast("bigint").as("chunk_id"),
        col("chunk_tokens").cast("bigint").as("chunk_tokens"),
        md5(col("chunk_text")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Corpus-trained trigram OOV quality: vocabulary = the 512 most common
    * character trigrams of the corpus itself (ties at the cut broken
    * (count DESC, trigram ASC) — binary collation in both engines), score =
    * per doc how many of its trigrams fall outside that vocabulary. The
    * outputs are two integers and one single-division rate, so the usual
    * float-sum ordering hazard cannot arise and the full train+score
    * pipeline is hash-checked against DuckDB.
    */
  val textOovQuality: QueryDef = QueryDef.withOracle(
    """WITH pos AS (
      |  SELECT doc_id, text, unnest(range(1, len(text) - 1)) AS i FROM documents
      |),
      |tri AS (SELECT doc_id, substr(text, i, 3) AS tri FROM pos),
      |vocab AS (
      |  SELECT tri FROM (
      |    SELECT tri, count(*) AS c FROM tri GROUP BY tri
      |    ORDER BY c DESC, tri LIMIT 512)
      |),
      |scored AS (
      |  SELECT t.doc_id,
      |    count(*) AS n_trigrams,
      |    sum(CASE WHEN v.tri IS NULL THEN 1 ELSE 0 END) AS oov
      |  FROM tri t LEFT JOIN vocab v USING (tri)
      |  GROUP BY t.doc_id)
      |SELECT doc_id, CAST(n_trigrams AS BIGINT) AS n_trigrams,
      |  CAST(oov AS BIGINT) AS oov_trigrams,
      |  CAST(oov AS DOUBLE) / n_trigrams AS oov_rate
      |FROM scored ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextOps.oovScore(t(s, dir, "documents"))
  }.sortedDump("doc_id")

  /** Gopher/C4-style rule filter: hard keep/drop with the first failing
    * rule recorded — token-count bounds, mean-token-length band, longest-
    * token cap, minimum stopword ratio. All features are stateless
    * codegen'd expressions (`TextOps.qualityFlags`); DuckDB replays every
    * formula exactly (mean token length via the Σlen = len−(n−1) identity,
    * so neither engine aggregates per token).
    */
  val qualityFilter: QueryDef = QueryDef.withOracle(
    """WITH base AS (
      |  SELECT doc_id, text,
      |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n,
      |    str_split(text, ' ') AS toks
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, n AS n_tokens,
      |    CAST(length(text) - n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_tok_len,
      |    CAST(list_max(list_transform(toks, x -> length(x))) AS BIGINT) AS max_tok_len,
      |    CAST(len(list_filter(toks,
      |        x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for'))) AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS stop_ratio
      |  FROM base),
      |g AS (
      |  SELECT doc_id, n_tokens, mean_tok_len, max_tok_len, stop_ratio,
      |    CASE WHEN n_tokens < 10 OR n_tokens > 1000 THEN 'n_tokens'
      |         WHEN mean_tok_len < 2.0 OR mean_tok_len > 12.0 THEN 'mean_tok_len'
      |         WHEN max_tok_len > 30 THEN 'long_token'
      |         WHEN stop_ratio < 0.02 THEN 'low_stopword'
      |         ELSE 'ok' END AS reason
      |  FROM f)
      |SELECT doc_id, n_tokens, mean_tok_len, max_tok_len, stop_ratio, reason,
      |  reason = 'ok' AS keep
      |FROM g ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextOps.qualityFlags(t(s, dir, "documents")).orderBy("doc_id")
  }

  /** Pattern scrub (the PII/number-redaction pass before a corpus ships):
    * digit runs replaced by a token, plus the redacted-character count via
    * the length-delta identity. Stateless codegen'd regex over the column —
    * no UDF; the pattern stays in the Java∩RE2 regex subset so DuckDB
    * replays it verbatim.
    */
  val textRedact: QueryDef = QueryDef.withOracle(
    """SELECT event_id,
      |  regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS props_redacted,
      |  CAST(length(props) - length(regexp_replace(props, '[0-9]', '', 'g')) AS BIGINT)
      |    AS n_digits
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .select(
        col("event_id"),
        PipelineOps.redact(col("props"), "[0-9]+", "<NUM>").as("props_redacted"),
        PipelineOps.charClassCount(col("props"), "[0-9]").as("n_digits"))
  }.sortedDump("event_id")

  /** BPE-ish subword-count estimate (long words cost ≈ len/4 extra
    * tokens), hash-checked: DuckDB replays the identical per-token
    * greatest/ceil arithmetic. Complements q15's whitespace token count —
    * together they are the cheap token-budget estimators a corpus-sizing
    * pass runs before committing to a real tokenizer sweep.
    */
  val tokenBpeEstimate: QueryDef = QueryDef.withOracle(
    """SELECT doc_id,
      |  CAST(list_sum(list_transform(str_split(text, ' '),
      |    x -> greatest(1, CAST(ceil(length(x) / 4.0) AS BIGINT)))) AS BIGINT)
      |    AS n_tokens_bpe
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), TextOps.bpeTokenEstimate(col("text")).as("n_tokens_bpe"))
      .orderBy("doc_id")
  }

  /** Winnowing fingerprints per document, exploded to `(doc_id,
    * fingerprint)` scalar rows and hash-checked against a DuckDB oracle
    * that replays the whole pipeline (shingle → hash → sliding-window min →
    * dedup; shingleSize=3, window=4). The oracle-checked form plugs in the
    * cross-engine portable md5 hash; production default stays xxhash64.
    * Shared-run guarantees are asserted in SketchAndWinnowSpec.
    */
  val textWinnow: QueryDef = QueryDef.withOracle(
    """WITH toks AS (
      |  SELECT doc_id, text, str_split(text, ' ') AS ts FROM documents),
      |pos AS (
      |  SELECT doc_id, text, ts,
      |    unnest(generate_series(1, greatest(len(ts) - 2, 1))) AS p
      |  FROM toks),
      |sh AS (
      |  SELECT doc_id, p - 1 AS pos,
      |    CASE WHEN len(ts) < 3 THEN text
      |         ELSE concat_ws(' ', ts[p], ts[p+1], ts[p+2]) END AS s
      |  FROM pos),
      |hs AS (
      |  SELECT doc_id, pos, ('0x' || substr(md5(s), 1, 14))::BIGINT AS h FROM sh),
      |win AS (
      |  SELECT doc_id, pos,
      |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
      |    COUNT(*) OVER (PARTITION BY doc_id) AS n
      |  FROM hs)
      |SELECT DISTINCT doc_id, m AS fingerprint
      |FROM win
      |WHERE pos <= greatest(n - 4, 0)
      |ORDER BY doc_id, fingerprint""".stripMargin) { (s, dir) =>
    TextOps.winnowFingerprints(t(s, dir, "documents"), hashFn = TextOps.portableHash56)
      .select(col("doc_id"), explode(col("fingerprints")).as("fingerprint"))
      .orderBy("doc_id", "fingerprint")
  }
}
