package graft.queries

import graft.ops.Bucketing
import graft.queries.Queries.{dirKey, t}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational surface: scans, filters, joins, aggregates, windows,
  * set operations, grouping sets, skew/as-of/range joins, the SQL-string
  * interface and the sketch aggregates.
  * See [[Queries]] for the determinism conventions.
  */
object RelationalQueries {

  /** TPC-H Q1-shaped pricing summary: scan + filter + hash aggregate.
    * Exercises S1 (parquet scan with pushdown), A-family aggregation.
    */
  val q01PricingSummary: QueryDef = QueryDef.withOracle(
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)"))).cast("double").as("sum_disc_price"),
        (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") / count(lit(1)))
          .cast("double").as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Equi-join + aggregate: orders per market segment (J4-family join). */
  val q02SegmentSales: QueryDef = QueryDef.withOracle(
    """SELECT c_mktsegment,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_totalprice"))
      .orderBy("c_mktsegment")
  }

  /** Multi-way dimension join chain up the region snowflake; the small dims
    * broadcast (customer/nation/region ≪ orders).
    */
  val q03RegionRevenue: QueryDef = QueryDef.withOracle(
    """SELECT r_name,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy("r_name")
  }

  /** Selective filter + projection — the predicate/column-pushdown probe. */
  val q04ShipdateFilter: QueryDef = QueryDef.withOracle(
    """SELECT l_orderkey, l_linenumber, l_partkey, CAST(l_quantity AS DOUBLE) AS quantity
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_quantity >= 45
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp") &&
        col("l_quantity") >= 45)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity").cast("double").as("quantity"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Global top-k: total-order sort + limit (the engine's TopK operator). */
  val q05TopkOrders: QueryDef = QueryDef.withOracle(
    """SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 10""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice").cast("double"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(10)
  }

  /** Distinct aggregation over two keys in one pass. */
  val q06DistinctCounts: QueryDef = QueryDef.withOracle(
    """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(*) AS n_rows
      |FROM lineitem""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
  }

  /** Ranking window function: top-3 orders per customer. */
  val q07WindowTop3: QueryDef = QueryDef.withOracle(
    """SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, rn
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) x
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"), col("rn"))
  }.sortedDump("o_custkey", "rn")

  /** Semi join: customers having at least one big order. */
  val q08SemiJoin: QueryDef = QueryDef.withOracle(
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .join(
        t(s, dir, "orders").where(col("o_totalprice") > 450000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Anti join: customers with no large order (every customer has SOME
    * order in the fixtures, so the filter keeps the result non-empty — an
    * all-empty match would be weak evidence).
    */
  val q09AntiJoin: QueryDef = QueryDef.withOracle(
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .join(
        t(s, dir, "orders").where(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Set operation: referenced part keys absent from the large-size parts. */
  val q10SetOps: QueryDef = QueryDef.withOracle(
    """SELECT l_partkey FROM lineitem
      |EXCEPT
      |SELECT p_partkey FROM part WHERE p_size > 25
      |ORDER BY l_partkey""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem").select("l_partkey")
      .except(t(s, dir, "part").where(col("p_size") > 25)
        .select(col("p_partkey").as("l_partkey")))
  }.sortedDump("l_partkey")

  /** Grouping sets / ROLLUP with NULL-safe sentinel labels. */
  val q11Rollup: QueryDef = QueryDef.withOracle(
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty"))
      .orderBy("returnflag", "linestatus")
  }

  /** Events per type: counts, exact value sums, distinct users. */
  val q12EventsByType: QueryDef = QueryDef.withOracle(
    """SELECT event_type,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** Daily tumbling-window aggregation (batch form of the streaming agg):
    * Spark's `window()` on a UTC session = DuckDB `date_trunc('day', ts)`.
    */
  val q13EventsDaily: QueryDef = QueryDef.withOracle(
    """SELECT CAST(FLOOR(epoch(date_trunc('day', ts))) AS BIGINT) AS window_start,
      |  event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")
  }

  /** Documents per (lang, source): counts and exact char sums. */
  val q14DocsByLang: QueryDef = QueryDef.withOracle(
    """SELECT lang, source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_chars
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).cast("double").as("avg_chars"))
      .orderBy("lang", "source")
  }

  /** Per-document token/char counting (whitespace tokenizer; counts as
    * BIGINT on both sides).
    */
  val q15TokenStats: QueryDef = QueryDef.withOracle(
    """SELECT doc_id,
      |  CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(length(text) AS BIGINT) AS n_chars_computed
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
        length(col("text")).cast("bigint").as("n_chars_computed"))
  }.sortedDump("doc_id")

  /** Exact-dedup hash groups over documents (md5 hex is identical in both
    * engines): one row per distinct content with keeper id + copy count.
    */
  val q16DedupExact: QueryDef = QueryDef.withOracle(
    """SELECT md5(text) AS content_hash,
      |  COUNT(*) AS n_copies,
      |  MIN(doc_id) AS keeper_id
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY content_hash""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(
        count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("keeper_id"))
  }.sortedDump("content_hash")

  /** Text-quality feature extraction, cross-engine form: stopword counts via
    * list filtering, portable token arithmetic.
    */
  val q17QualityFeatures: QueryDef = QueryDef.withOracle(
    """SELECT doc_id,
      |  CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(len(list_filter(str_split(text, ' '),
      |       x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for'))) AS BIGINT)
      |    AS n_stopwords
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val toks = split(col("text"), " ")
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        size(toks).cast("bigint").as("n_tokens"),
        size(filter(toks, w => w.isInCollection(
          Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on", "for"))))
          .cast("bigint").as("n_stopwords"))
      .orderBy("doc_id")
  }

  /** Scalar subquery: orders above the global mean price (mean computed
    * exactly in DECIMAL, compared once in DOUBLE).
    */
  val q18AboveAvgOrders: QueryDef = QueryDef.withOracle(
    """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
      |FROM orders
      |WHERE o_totalprice > (
      |  SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS DOUBLE)
      |  FROM orders)
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val orders = t(s, dir, "orders")
    val avgRow = orders.agg(
      (sum(col("o_totalprice").cast("decimal(18,2)")).cast("double") / count(lit(1)))
        .cast("double").as("a"))
    orders.join(avgRow)
      .where(col("o_totalprice") > col("a"))
      .select(col("o_orderkey"), col("o_totalprice").cast("double").as("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Conditional (pivot-style) aggregation per user. */
  val q19UserTypePivot: QueryDef = QueryDef.withOracle(
    """SELECT user_id,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase_value,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS view_value,
      |  COUNT(*) AS n_events
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "purchase", col("value").cast("decimal(18,2)"))
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("purchase_value"),
        sum(when(col("event_type") === "view", col("value").cast("decimal(18,2)"))
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("view_value"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Fact-to-dim join + aggregate at the part grain. */
  val q20BrandRevenue: QueryDef = QueryDef.withOracle(
    """SELECT p_brand,
      |  COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)"))).cast("double").as("revenue"))
      .orderBy("p_brand")
  }

  /** Min/max over timestamps surfaced as DATE (cross-engine-safe). */
  val q21DateBounds: QueryDef = QueryDef.withOracle(
    """SELECT l_returnflag,
      |  strftime(CAST(MIN(l_shipdate) AS DATE), '%Y-%m-%d') AS min_ship,
      |  strftime(CAST(MAX(l_shipdate) AS DATE), '%Y-%m-%d') AS max_ship
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        date_format(min(col("l_shipdate")), "yyyy-MM-dd").as("min_ship"),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("max_ship"))
      .orderBy("l_returnflag")
  }

  /** Two-level aggregation: average order count per customer nation. */
  val q22NestedAgg: QueryDef = QueryDef.withOracle(
    """SELECT n_name,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(n_orders) AS BIGINT) AS total_orders,
      |  CAST(CAST(SUM(n_orders) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_orders_per_cust
      |FROM (
      |  SELECT c_custkey, c_nationkey, (
      |    SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
      |  FROM customer) x
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin) { (s, dir) =>
    val perCust = t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey", "c_nationkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
    perCust
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("n_orders")).as("total_orders"),
        (sum(col("n_orders")).cast("double") / count(lit(1))).cast("double")
          .as("avg_orders_per_cust"))
      .orderBy("n_name")
  }

  /** SQL-string interface over registered views — same engine, textual
    * entry point (TPC-H Q3 shape). Demonstrates the spark.sql surface the
    * reference lacks entirely (SURVEY.md §2.11).
    */
  val q23SqlInterface: QueryDef = QueryDef.withOracle(
    """SELECT o_orderkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS orderdate
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 20""".stripMargin) { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(
      """SELECT o_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 20""".stripMargin)
  }

  /** CUBE grouping sets (all 4 combinations) with sentinel labels. */
  val q24Cube: QueryDef = QueryDef.withOracle(
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"))
      .orderBy("returnflag", "linestatus")
  }

  /** Skew-aware salted join: result must be EXACTLY the plain equi-join
    * (the oracle is the plain SQL join) while the physical plan spreads
    * sampled-hot keys over `saltFactor` buckets. Hot-key-ONLY salting
    * (`SkewJoin.skewAwareInnerJoin`): the blanket form replicates the
    * whole right side ×saltFactor — measured 51.2 s vs 13.9 s at ×100 on
    * this uniform-key join, and a non-starter at 100 TB. The blanket form
    * remains exercised by SkewJoinSpec.
    */
  val q25SkewSaltedJoin: QueryDef = QueryDef.withOracle(
    """SELECT l_orderkey, l_linenumber, o_custkey,
      |  CAST(l_quantity AS DOUBLE) AS quantity,
      |  CAST(o_totalprice AS DOUBLE) AS totalprice
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    graft.ops.SkewJoin.skewAwareInnerJoin(
      t(s, dir, "lineitem").withColumn("k", col("l_orderkey")),
      t(s, dir, "orders").withColumn("k", col("o_orderkey")),
      "k", saltFactor = 8)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
        col("l_quantity").cast("double").as("quantity"),
        col("o_totalprice").cast("double").as("totalprice"))
  }.sortedDump("l_orderkey", "l_linenumber")

  /** AS-OF join (point-in-time lookup): each event gets the latest
    * at-or-before 'purchase' event of the same user. Spark lacks a native
    * as-of join — composed from union + one window pass (see
    * `graft/ops/AsofJoin.scala`); DuckDB's native ASOF JOIN is the oracle.
    */
  val q26AsofJoin: QueryDef = QueryDef.withOracle(
    """WITH p AS (
      |  SELECT user_id, ts,
      |    arg_max(event_id, event_id) AS prev_purchase_id,
      |    arg_max(value, event_id) AS prev_purchase_value
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, ts)
      |SELECT e.event_id, e.user_id,
      |  p.prev_purchase_id,
      |  CAST(p.prev_purchase_value AS DOUBLE) AS prev_purchase_value
      |FROM events e ASOF LEFT JOIN p
      |  ON e.user_id = p.user_id AND e.ts >= p.ts
      |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
    val events = t(s, dir, "events")
    val purchases = events.where(col("event_type") === "purchase")
      .groupBy("user_id", "ts")
      .agg(
        max("event_id").as("prev_purchase_id"),
        max_by(col("value"), col("event_id")).as("prev_purchase_value"))
    graft.ops.AsofJoin.asofJoin(
      events.select("event_id", "user_id", "ts"),
      purchases,
      leftKey = "user_id", rightKey = "user_id",
      leftTime = "ts", rightTime = "ts",
      rightCols = Seq("prev_purchase_id", "prev_purchase_value"))
      .select(
        col("event_id"), col("user_id"),
        col("prev_purchase_id"),
        col("prev_purchase_value").cast("double").as("prev_purchase_value"))
  }.sortedDump("event_id")

  /** Batch sessionization (gaps-and-islands): per-user sessions split at
    * >30-minute gaps — lag + running sum of session-break markers, then one
    * aggregate per session. The relational form of the streaming
    * sessionizers (stream_sessions / EventsStream.sessionizeStateful).
    */
  val q27Sessionization: QueryDef = QueryDef.withOracle(
    """WITH marked AS (
      |  SELECT user_id, ts, value, event_id,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |sess AS (
      |  SELECT *, CAST(SUM(new_sess) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
      |  FROM marked)
      |SELECT user_id, sess_id,
      |  CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM sess
      |GROUP BY user_id, sess_id
      |ORDER BY user_id, sess_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val marked = t(s, dir, "events")
      .withColumn("prev_sec", lag(col("ts").cast("double"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_sec").isNull ||
          col("ts").cast("double") - col("prev_sec") > 1800, 1).otherwise(0))
    marked
      .withColumn("sess_id",
        sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("bigint"))
      .groupBy("user_id", "sess_id")
      .agg(
        unix_timestamp(min(col("ts"))).as("session_start"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("user_id", "sess_id")
  }


  /** Range (interval) join: events falling inside daily 10:00-11:00
    * maintenance windows derived from the same table. Spark has no native
    * range join (a raw BETWEEN condition plans as a nested-loop join) —
    * composed as explode-intervals-to-buckets + equi-join + residual filter
    * (`graft/ops/RangeJoin.scala`); DuckDB's plain BETWEEN join is the
    * oracle. Windows are disjoint → one output row per matching event.
    */
  val q29RangeJoin: QueryDef = QueryDef.withOracle(
    """WITH windows AS (
      |  SELECT CAST(FLOOR(epoch(d)) AS BIGINT) AS win_id,
      |    d + INTERVAL 10 HOUR AS win_start,
      |    d + INTERVAL 11 HOUR AS win_end
      |  FROM (SELECT DISTINCT date_trunc('day', ts) AS d FROM events))
      |SELECT e.event_id, w.win_id, e.user_id,
      |  CAST(e.value AS DOUBLE) AS value
      |FROM events e JOIN windows w
      |  ON e.ts >= w.win_start AND e.ts <= w.win_end
      |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
    val events = t(s, dir, "events")
    val windows = events
      .select(date_trunc("day", col("ts")).as("d")).distinct()
      .select(
        unix_timestamp(col("d")).as("win_id"),
        (col("d") + expr("INTERVAL 10 HOURS")).as("win_start"),
        (col("d") + expr("INTERVAL 11 HOURS")).as("win_end"))
    graft.ops.RangeJoin.bucketedRangeJoin(
      events, windows, leftTime = "ts",
      rightStart = "win_start", rightEnd = "win_end", bucketWidth = 3600L)
      .select(col("event_id"), col("win_id"), col("user_id"),
        col("value").cast("double").as("value"))
      .orderBy("event_id")
  }

  /** Custom UDAF surface: bounded top-k aggregator (O(k) buffer, map-side
    * merged) vs the full-sort window form as oracle — same answer, very
    * different scaling on huge groups.
    */
  val q28TopkUdaf: QueryDef = QueryDef.withOracle(
    """SELECT o_custkey, o_orderkey, rn,
      |  CAST(o_totalprice AS DOUBLE) AS o_totalprice
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) x
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(graft.functions.TopKAggregator.topK(3)(
        col("o_orderkey"), col("o_totalprice").cast("double")).as("top"))
      .select(col("o_custkey"),
        posexplode(arrays_zip(col("top.ids"), col("top.scores"))).as(Seq("pos", "pair")))
      .select(
        col("o_custkey"),
        col("pair.ids").as("o_orderkey"),
        (col("pos") + 1).cast("int").as("rn"),
        col("pair.scores").as("o_totalprice"))
  }.sortedDump("o_custkey", "rn")

  /** Fact⋈fact join over bucketed tables — the pay-the-shuffle-once layout
    * for joins where neither side broadcasts at scale. Both tables are
    * written `bucketBy(8, key)` once per JVM (`Bucketing.writeBucketed`),
    * after which the planner proves co-partitioning and elides every
    * Exchange from the join (asserted in BucketingSpec). The oracle replays
    * the identical join+agg on the raw parquet — bucketing must be a pure
    * layout change, invisible in the result.
    */
  val bucketedJoin: QueryDef = QueryDef.withOracle(
    """SELECT o_orderpriority,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    val k = dirKey(dir)
    val li = s"graft_li_buck_$k"
    val ord = s"graft_ord_buck_$k"
    // bucket count sized to the larger (fact) side's volume; both tables
    // share it so the join stays provably co-partitioned
    val nb = Bucketing.autoBuckets(s, s"$dir/lineitem.parquet")
    Bucketing.writeBucketed(
      t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount"),
      li, nb, "l_orderkey")
    Bucketing.writeBucketed(
      t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
      ord, nb, "o_orderkey")
    Bucketing.coLocatedJoin(s, li, ord, "l_orderkey", "o_orderkey")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)"))).cast("double")
          .as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Sketch aggregates: HLL++ approximate distinct and approximate
    * quantiles — sketches ONLY in the hot query (round-8 verdict #6: the
    * exact countDistinct tier is a 3× expand over the full table and
    * existed only to measure sketch error; at ×10 it was 2× the cost of
    * the sketches it was checking). The exact tier now lives in the
    * ORACLE, which recomputes it in DuckDB and ENFORCES the error bounds:
    * approx distincts within ±15% (3× the default 5% rsd) and approx
    * quantiles inside the exact [q±0.01] rank bracket (accuracy 10000 ⇒
    * rank error ≤ 1e-4, two orders tighter). A sketch-error regression
    * empties the oracle side and fails the gate as a rows mismatch —
    * same enforcing pattern as the RMSE/MPR floors.
    */
  val sketchAggregates: QueryDef = QueryDef.withOracle(
    """WITH ex AS (
      |  SELECT COUNT(DISTINCT l_partkey) AS parts,
      |    COUNT(DISTINCT l_suppkey) AS supps,
      |    quantile_cont(l_extendedprice, 0.49) AS med_lo,
      |    quantile_cont(l_extendedprice, 0.51) AS med_hi,
      |    quantile_cont(l_extendedprice, 0.98) AS p99_lo,
      |    quantile_cont(l_extendedprice, 1.00) AS p99_hi
      |  FROM lineitem)
      |SELECT d.approx_parts, d.approx_supps,
      |  d.approx_median_price, d.approx_p99_price
      |FROM read_parquet('{{OUT}}/sketch_aggregates/*.parquet') d, ex
      |WHERE d.approx_parts BETWEEN CAST(0.85 * ex.parts AS BIGINT)
      |                         AND CAST(1.15 * ex.parts AS BIGINT)
      |  AND d.approx_supps BETWEEN CAST(0.85 * ex.supps AS BIGINT)
      |                         AND CAST(1.15 * ex.supps AS BIGINT)
      |  AND d.approx_median_price BETWEEN ex.med_lo AND ex.med_hi
      |  AND d.approx_p99_price BETWEEN ex.p99_lo AND ex.p99_hi""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem").agg(
      approx_count_distinct(col("l_partkey")).as("approx_parts"),
      approx_count_distinct(col("l_suppkey")).as("approx_supps"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("approx_median_price"),
      percentile_approx(col("l_extendedprice"), lit(0.99), lit(10000)).as("approx_p99_price"))
  }

  /** Mergeable-sketch tier (Apache DataSketches builtins): HLL sketches
    * built per event_type then UNIONED — the pre-aggregate-then-merge shape
    * that lets a 100 TB pipeline sketch per partition/day and combine
    * later without rescanning — plus a theta-sketch set intersection
    * (purchasers ∩ viewers), next to their exact companions. Sketch
    * estimates are representation-specific and pass through the dump
    * (SketchAndWinnowSpec bounds the error); the exact companions are
    * oracle-pinned by independent DuckDB recomputation.
    */
  val sketchMergeable: QueryDef = QueryDef.withOracle(
    """SELECT d.approx_users_merged,
      |  (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_users,
      |  (SELECT COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
      |     FROM events) AS exact_purchasers,
      |  d.approx_purchasers, d.approx_purchase_and_view_users
      |FROM read_parquet('{{OUT}}/sketch_mergeable/*.parquet') d""".stripMargin) { (s, dir) =>
    val events = t(s, dir, "events")
    val mergedHll = events
      .groupBy("event_type")
      .agg(expr("hll_sketch_agg(user_id)").as("hll"))
      .agg(expr("CAST(hll_sketch_estimate(hll_union_agg(hll)) AS BIGINT)")
        .as("approx_users_merged"))
    val exact = events.agg(
      countDistinct(col("user_id")).as("exact_users"),
      countDistinct(when(col("event_type") === "purchase", col("user_id")))
        .as("exact_purchasers"))
    val theta = events
      .agg(
        expr("theta_sketch_agg(CASE WHEN event_type = 'purchase' THEN user_id END)").as("p"),
        expr("theta_sketch_agg(CASE WHEN event_type = 'view' THEN user_id END)").as("v"))
      .select(
        expr("CAST(theta_sketch_estimate(p) AS BIGINT)").as("approx_purchasers"),
        expr("CAST(theta_sketch_estimate(theta_intersection(p, v)) AS BIGINT)")
          .as("approx_purchase_and_view_users"))
    mergedHll.join(exact).join(theta)
  }

  /** Heavy hitters: approx_top_k (bounded-map frequent-items sketch) over a
    * genuinely skewed key — the power-law order-magnitude bucket
    * `length(bin(l_orderkey)) - 1` (≡ floor(log2), computed via integer bit
    * length so Spark and DuckDB agree exactly; FP log2 differs at exact
    * powers of two). Bucket populations double per level, so top-5 counts
    * are strictly distinct and the deterministic (count DESC, item ASC)
    * tie-break makes the result hash-checkable against an exact GROUP BY
    * oracle: key cardinality (≤63 buckets at ANY scale) sits far below the
    * sketch's tracked capacity, where approx_top_k's counts are exact —
    * the heavy-hitter regime the sketch exists for. Estimate-mode behavior
    * (cardinality above capacity) stays covered rows-only by
    * sketch_aggregates/sketch_mergeable.
    *
    * The sketch is asked for ALL buckets (k=64 ≥ the ≤63 possible BIGINT
    * bit-lengths), not its own top-5: when the partially-filled highest
    * bucket TIES another bucket's count, approx_top_k's choice among tied
    * items need not match the (count DESC, item ASC) rule the oracle ranks
    * by (round-6 ADVICE — a latent flake at untested scale factors). With
    * the full exact-count entry set in hand, OUR window applies the
    * deterministic tie-break and takes 5.
    */
  val sketchHeavyHitters: QueryDef = QueryDef.withOracle(
    """WITH keyed AS (
      |  SELECT CAST(LENGTH(BIN(l_orderkey)) - 1 AS BIGINT) AS item FROM lineitem),
      |counts AS (
      |  SELECT item, COUNT(*) AS approx_count FROM keyed GROUP BY item),
      |ranked AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY approx_count DESC, item ASC) AS BIGINT) AS rank,
      |    item, approx_count
      |  FROM counts)
      |SELECT rank, item, approx_count FROM ranked
      |WHERE rank <= 5 ORDER BY rank""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .select((length(bin(col("l_orderkey"))) - 1).cast("bigint").as("hh_key"))
      .agg(expr("approx_top_k(hh_key, 64, 10000)").as("top"))
      .select(explode(col("top")).as("entry"))
      .select(
        col("entry.item").cast("bigint").as("item"),
        col("entry.count").cast("bigint").as("approx_count"))
      // ≤63 rows reach the window — single-partition rank is fine here
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("approx_count").desc, col("item").asc))
        .cast("bigint"))
      .where(col("rank") <= 5)
      .select("rank", "item", "approx_count")
      .orderBy("rank")
  }
}
