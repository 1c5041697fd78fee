package graft.queries

import graft.queries.Queries.{csvWritten, dirKey}
import graft.streaming.EventsStream
import org.apache.spark.sql.functions._

/** The Structured Streaming surface: each stream runs to completion over
  * the fixture files (`EventsStream.runToBatch`) and is checked against its
  * batch equivalent.
  * See [[Queries]] for the determinism conventions.
  */
object StreamingQueries {

  /** Custom-state streaming sessionization (flatMapGroupsWithState with
    * event-time timeout). The emitted set IS SQL-expressible for an
    * AvailableNow run: every gap-closed session, plus trailing sessions
    * whose event-time timeout (`last_ts + gap`) the FINAL watermark
    * (`max(ts) - 1 hour`) strictly passed — only sessions still open
    * against the final watermark stay in state, unemitted. The oracle
    * replays the q27 islands form and applies exactly that emission rule.
    * `sum_value` is rounded to 2 decimals on both sides: the stream folds
    * raw doubles in event order, the oracle sums in DuckDB's order, and the
    * fixture's 2-decimal values make the rounded sums identical while the
    * raw last-bits need not be. Open-state semantics (what is NOT emitted)
    * are additionally asserted in StreamingSpec.
    */
  val streamSessions: QueryDef = QueryDef.withOracle(
    """WITH marked AS (
      |  SELECT user_id, ts, value, event_id,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |sess AS (
      |  SELECT *, CAST(SUM(new_sess) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
      |  FROM marked),
      |agg AS (
      |  SELECT user_id, sess_id,
      |    CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start,
      |    COUNT(*) AS n_events,
      |    CAST(ROUND(SUM(value), 2) AS DOUBLE) AS sum_value,
      |    MAX(epoch(ts)) AS end_sec
      |  FROM sess GROUP BY user_id, sess_id),
      |last AS (SELECT user_id, MAX(sess_id) AS last_sess FROM agg GROUP BY user_id),
      |wm AS (SELECT MAX(epoch(ts)) - 3600 AS w FROM events)
      |SELECT a.user_id, a.session_start, a.n_events, a.sum_value
      |FROM agg a JOIN last l ON a.user_id = l.user_id, wm
      |WHERE a.sess_id < l.last_sess OR a.end_sec + 1800 < wm.w
      |ORDER BY a.user_id, a.session_start""".stripMargin) { (s, dir) =>
    EventsStream.runToBatch(s, dir, EventsStream.sessionizeStateful(_),
      s"stream_sessions_${math.abs(dir.hashCode)}")
      .withColumn("sum_value", round(col("sum_value"), 2))
      .orderBy("user_id", "session_start")
  }

  /** Streaming content dedup: first occurrence of each (user_id,
    * event_type, props) key survives, every later duplicate is dropped
    * in-flight — the streaming twin of exact dedup. Emitting only the key
    * columns makes the kept set deterministic (all duplicates agree on
    * them), so the run is hash-checked against batch DISTINCT. State is
    * O(distinct keys); the bounded-state TTL variant is
    * `EventsStream.dedupedEvents` (dropDuplicatesWithinWatermark).
    */
  val streamDedup: QueryDef = QueryDef.withOracle(
    """SELECT DISTINCT user_id, event_type, props FROM events
      |ORDER BY user_id, event_type, props""".stripMargin) { (s, dir) =>
    EventsStream.runToBatch(s, dir,
      _.select("user_id", "event_type", "props")
        .dropDuplicates("user_id", "event_type", "props"),
      s"stream_dedup_${math.abs(dir.hashCode)}")
  }.sortedDump("user_id", "event_type", "props")

  /** Streaming merge-on-write index maintenance: the events stream keeps
    * a parquet first-seen index (content hash → min event id) fresh via
    * foreachBatch upserts — the streaming twin of dedup_incremental's
    * batch index. The oracle replays the equivalent global group-by; the
    * min-merge is idempotent, so the maintained index must equal it
    * exactly regardless of micro-batch boundaries.
    */
  val streamIndexMaintenance: QueryDef = QueryDef.withOracle(
    """SELECT md5(concat_ws('|', user_id, event_type, props)) AS content_hash,
      |  min(event_id) AS first_event_id
      |FROM events
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    val idxDir = s"/tmp/graft_stream_index_${dirKey(dir)}"
    if (!csvWritten.contains(idxDir)) {
      EventsStream.deleteRecursively(new java.io.File(idxDir))
      EventsStream.deleteRecursively(new java.io.File(idxDir + "_ck"))
      val keyed = EventsStream.readEvents(s, dir).select(
        md5(concat_ws("|", col("user_id"), col("event_type"), col("props")))
          .as("content_hash"),
        col("event_id"))
      EventsStream.firstSeenIndex(keyed, idxDir, idxDir + "_ck")
      csvWritten.add(idxDir)
    }
    EventsStream.latestIndex(s, idxDir)
  }.sortedDump("content_hash")

  /** Structured-Streaming windowed aggregation run to completion over the
    * fixture files (real streaming machinery; emitted windows only — append
    * mode emits a window once the watermark passes its end, so the trailing
    * window stays in state; the oracle replicates that cutoff).
    */
  val streamEventsDaily: QueryDef = QueryDef.withOracle(
    """SELECT CAST(FLOOR(epoch(date_trunc('day', ts))) AS BIGINT) AS window_start,
      |  event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE epoch(date_trunc('day', ts)) + 86400
      |      <= (SELECT epoch(max(ts)) - 3600 FROM events)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    EventsStream.runToBatch(s, dir, EventsStream.windowedAgg(_),
      s"stream_events_daily_${math.abs(dir.hashCode)}")
      .orderBy("window_start", "event_type")
  }

  /** Stream-stream interval join run to completion (real state-store join
    * machinery; inner join emits eagerly, so the batch interval join is an
    * exact oracle).
    */
  val streamPurchaseViews: QueryDef = QueryDef.withOracle(
    """SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
      |  CAST(p.value AS DOUBLE) AS purchase_value
      |FROM events p JOIN events v
      |  ON p.event_type = 'purchase' AND v.event_type = 'view'
      |  AND v.user_id = p.user_id
      |  AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
      |ORDER BY purchase_id, view_id""".stripMargin) { (s, dir) =>
    EventsStream.runToBatch(s, dir, EventsStream.purchaseViewJoin(_),
      s"stream_purchase_views_${math.abs(dir.hashCode)}")
  }.sortedDump("purchase_id", "view_id")
}
