package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Det._

/** Headline analytical queries over the TPC-H-ish testdata.
  *
  * The reference has no group-by/join/sort operators (SURVEY.md §2.4, §2.9) —
  * these cover the gap the extension surface needs and serve as the bench
  * workload. All shuffle-bearing: grouped aggregation with map-side partial
  * agg, broadcast joins for the small dimensions, window functions on a
  * single hash shuffle.
  */
object AnalyticsQueries {

  /** TPC-H Q1-flavored pricing summary: one shuffle, partial aggregation
    * map-side; decimal sums for oracle determinism. */
  val q1Pricing = Q(
    "q1_pricing_summary",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      li.filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
            .as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax")), 6).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("count_order"))
    },
    Some(s"""SELECT l_returnflag, l_linestatus,
      ${dsumSql("l_quantity")} AS sum_qty,
      ${dsumSql("l_extendedprice")} AS sum_base_price,
      ${dsumSql("l_extendedprice * (1 - l_discount)", 6)} AS sum_disc_price,
      ${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
      ${davgSql("l_quantity")} AS avg_qty,
      ${davgSql("l_extendedprice")} AS avg_price,
      count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus"""),
    bench = true)

  /** Top unshipped-revenue orders: 3-way join (customer broadcast), grouped
    * agg, deterministic top-k (decimal revenue + full tie-break). */
  val q3TopOrders = Q(
    "q3_top_orders",
    (s, d) => {
      val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    },
    Some(s"""SELECT o_orderkey, o_orderpriority,
      ${dsumSql("l_extendedprice * (1 - l_discount)", 6)} AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY o_orderkey, o_orderpriority
      ORDER BY revenue DESC, o_orderkey ASC
      LIMIT 10"""),
    bench = true)

  /** Region revenue rollup: 5-way join with every dimension broadcast —
    * only the lineitem↔orders join shuffles at scale. */
  val q5RegionRevenue = Q(
    "q5_region_revenue",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      val nat = Tables.nation(s, d)
      val reg = Tables.region(s, d)
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
            .as("revenue"),
          count(lit(1)).as("n_items"))
    },
    Some(s"""SELECT r_name, n_name,
      ${dsumSql("l_extendedprice * (1 - l_discount)", 6)} AS revenue,
      count(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name"""),
    bench = true)

  /** Deterministic global top-k sort (total order via orderkey tie-break). */
  val qTopkSort = Q(
    "q_topk_orders_by_price",
    (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(25),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25"""))

  /** Window functions: per-customer order ranking, one hash shuffle. */
  val qWindowRank = Q(
    "q_window_top_order_per_customer",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rn"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders) t
      WHERE rn <= 3"""),
    bench = true)

  /** The SAME per-customer top-3 as [[qWindowRank]], computed with the
    * bounded-heap [[graft.functions.TopKAgg]] GROUPED BY customer
    * instead of a ranking window. Scale contrast: the window form
    * shuffles EVERY order row to its customer's reducer and sorts the
    * whole group before discarding all but 3; the heap aggregate's
    * map-side partial keeps ≤3 rows per customer per partition, so the
    * shuffle carries at most 3×partitions rows per customer and no sort
    * ever happens. Same (price desc, orderkey asc) total order as the
    * window — the oracle is the window form, so heap ≡ window is
    * enforced by the hash gate. */
  val qGroupTopK = Q(
    "q_group_topk_heap",
    (s, d) => Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(graft.functions.TopKAgg.top_k(
        col("o_totalprice"), col("o_orderkey"), 3).as("tk"))
      .select(col("o_custkey"), explode(col("tk")).as("t"))
      .select(col("o_custkey"), col("t.id").as("o_orderkey"),
        col("t.score").as("o_totalprice"), col("t.rank").as("rn")),
    Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders
        -- mirror TopKAgg's NULL/NaN-score exclusion: a NULL price must
        -- not occupy a top-3 slot the heap aggregate would never emit
        WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)) t
      WHERE rn <= 3"""))

  /** Anti/semi join pair: orders lacking any lineitem + parts that ship. */
  val qAntiJoin = Q(
    "q_orders_without_lineitems",
    (s, d) => {
      val ord = Tables.orders(s, d)
      val li = Tables.lineitem(s, d).select(col("l_orderkey"))
      ord.join(li, ord("o_orderkey") === li("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_orderstatus"))
    },
    Some("""SELECT o_orderkey, o_orderstatus FROM orders
      WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)"""))

  val qSemiJoin = Q(
    "q_parts_with_shipments",
    (s, d) => {
      val p = Tables.part(s, d)
      val li = Tables.lineitem(s, d).select(col("l_partkey"))
      p.join(li, p("p_partkey") === li("l_partkey"), "left_semi")
        .select(col("p_partkey"), col("p_brand"))
    },
    Some("""SELECT p_partkey, p_brand FROM part
      WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)"""))

  /** Broadcast-join fact-to-dim aggregate. */
  val qBrandVolume = Q(
    "q_brand_volume",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(dsum(col("l_quantity")).as("total_qty"),
          count(lit(1)).as("n_lines"))
    },
    Some(s"""SELECT p_brand, ${dsumSql("l_quantity")} AS total_qty,
      count(*) AS n_lines
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand"""))

  /** ROLLUP grouping-sets aggregate (absent in the reference; SURVEY §2.4). */
  val qRollup = Q(
    "q_rollup_region_nation",
    (s, d) => {
      val nat = Tables.nation(s, d)
      val reg = Tables.region(s, d)
      val cust = Tables.customer(s, d)
      cust.join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          dsum(col("c_acctbal")).as("total_balance"))
    },
    Some(s"""SELECT r_name, n_name, count(*) AS n_customers,
      ${dsumSql("c_acctbal")} AS total_balance
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)"""))

  /** Event-time tumbling-window aggregation, batch form of the Structured
    * Streaming pipeline in graft.streaming (same plan shape). */
  val qEventsHourly = Q(
    "q_events_hourly",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
            .as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          dsum(col("value")).as("total_value")),
    Some(s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      event_type, count(*) AS n, ${dsumSql("value")} AS total_value
      FROM events GROUP BY 1, 2"""),
    bench = true)

  /** The hourly rollup as a STRUCTURED STREAM, drained with
    * `Trigger.AvailableNow` ([[graft.streaming.StreamPipeline
    * .eventsHourlyAvailableNow]]): the driver's bench now times a real
    * micro-batch execution (source listing, checkpoint, watermark,
    * stateful agg, sink) and the DuckDB gate pins the streamed result to
    * the batch semantics — exactly-once file tracking makes streamed ≡
    * batch row-for-row, so the oracle is the SAME SQL as
    * `q_events_hourly`. */
  val qEventsHourlyStream = Q(
    "q_stream_events_hourly",
    (s, d) => graft.streaming.StreamPipeline.eventsHourlyAvailableNow(s, d),
    Some(s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      event_type, count(*) AS n, ${dsumSql("value")} AS total_value
      FROM events GROUP BY 1, 2"""),
    bench = true)

  /** Per-hour distinct users as a structured stream via the mergeable
    * HLL sketch ([[graft.streaming.StreamPipeline
    * .eventsHourlyHllAvailableNow]]) — exact distinct aggregation is
    * unsupported (and unboundable) in streaming; 256-byte per-window
    * sketch state is the production shape for every streaming
    * distinct-count metric. The oracle replays per-hour registers and
    * the shared estimator in batch SQL, so the streamed sketch STATE is
    * pinned hash-exactly, not just approximately. */
  val qStreamHllUsers = Q(
    "q_stream_hll_users",
    (s, d) =>
      graft.streaming.StreamPipeline.eventsHourlyHllAvailableNow(s, d),
    Some(s"""WITH ev AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
          AS hour, user_id FROM events),
      h AS (
        SELECT DISTINCT hour,
          ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
            AS hv
        FROM ev),
      reg AS (
        SELECT hour, hv // 16777216 AS reg, hv % 16777216 AS w FROM h),
      mx AS (
        SELECT hour, reg,
          max(CASE WHEN w = 0 THEN 25
              ELSE 25 - length(ltrim(bin(w), '0')) END) AS mj
        FROM reg GROUP BY 1, 2),
      est AS (
        SELECT hour,
          sum(pow(2.0, -mj)) + (256 - count(*)) * 1.0 AS s,
          256 - count(*) AS v
        FROM mx GROUP BY 1)
      SELECT hour,
        ${graft.ops.IncrementalAgg.hllEstimateSql("s", "v", 8)}
          AS users_hll
      FROM est"""),
    bench = true)

  /** CMS frequency counters as a structured stream
    * ([[graft.streaming.StreamPipeline.eventsCmsCountersAvailableNow]],
    * d=4 × w=64 over user_id) — bounded-state approximate frequencies
    * for an unbounded stream; counters merge by addition so partial
    * aggregation IS the merge. Oracle replays the counter build in
    * batch SQL: streamed sketch state ≡ batch counters hash-exactly. */
  val qStreamCmsCounters = Q(
    "q_stream_cms_counters",
    (s, d) =>
      graft.streaming.StreamPipeline.eventsCmsCountersAvailableNow(s, d),
    Some {
      val rows = (0 until 4).map { r =>
        s"""SELECT $r AS r,
          ((${graft.ext.TextDedup.minhashA(r)} * base
            + ${graft.ext.TextDedup.minhashB(r)})
            % ${graft.ext.TextDedup.minhashP}) % 64 AS bucket FROM h"""
      }.mkString(" UNION ALL ")
      s"""WITH h AS (
          SELECT ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
            ::BIGINT AS base
          FROM events),
        buck AS ($rows)
        SELECT r, bucket, count(*) AS c FROM buck GROUP BY 1, 2"""
    },
    bench = true)

  /** Stream-static dimension enrichment
    * ([[graft.streaming.StreamPipeline.eventsEnrichedSegmentAvailableNow]]):
    * events broadcast-joined to the static customer dim (user →
    * market segment), rolled up per hour window. The canonical
    * production streaming join — STATELESS on the join (map-side hash
    * probe of the broadcast dim; only the windowed agg keeps state,
    * one row per hour×segment). Oracle replays the equi-join +
    * group-by in batch SQL. */
  val qStreamEnrichSegment = Q(
    "q_stream_enrich_segment",
    (s, d) => graft.streaming.StreamPipeline
      .eventsEnrichedSegmentAvailableNow(s, d),
    Some(s"""SELECT
        strftime(date_trunc('hour', e.ts), '%Y-%m-%d %H:%M:%S') AS hour,
        c.c_mktsegment, count(*) AS n,
        ${Det.dsumSql("e.value")} AS total_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1, 2"""),
    bench = true)

  /** Per-hour value quantiles (p50/p90/p99) as a structured stream
    * ([[graft.streaming.StreamPipeline.eventsHourlyQuantilesAvailableNow]],
    * width-8 equi-width histogram): exact quantiles are unsupported in
    * streaming state; the mergeable histogram (one count per occupied
    * bucket per hour window, bounded by value-range/width) is the
    * production latency-percentile shape, and the drained state goes
    * through the IDENTICAL inverse-CDF read-off as the batch
    * `ext_quantile_sketch`. Oracle replays histogram + interpolation
    * in batch SQL — streamed ESTIMATES hash-exact. Bucketing floors
    * on both engines (Spark's long cast truncates, DuckDB's rounds —
    * floor is the agreed spelling). */
  val qStreamQuantiles = Q(
    "q_stream_value_quantiles",
    (s, d) => graft.streaming.StreamPipeline
      .eventsHourlyQuantilesAvailableNow(s, d),
    Some("""WITH t AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
          AS hour, CAST(floor(value) AS BIGINT) AS v
        FROM events),
      h AS (
        SELECT hour, v - (v % 8) AS bucket, count(*) AS cnt
        FROM t GROUP BY 1, 2),
      c AS (
        SELECT hour, bucket, cnt,
          CAST(sum(cnt) OVER (PARTITION BY hour ORDER BY bucket)
            AS BIGINT) AS cum,
          CAST(sum(cnt) OVER (PARTITION BY hour) AS BIGINT) AS n
        FROM h),
      x AS (
        SELECT hour, q, n, bucket, cnt, cum,
          CAST(q AS DOUBLE) * n AS target,
          row_number() OVER (PARTITION BY hour, q ORDER BY bucket) AS rn
        FROM c CROSS JOIN (
          SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
            CAST(0.99 AS DOUBLE)]) AS q) qq
        WHERE cum >= CAST(q AS DOUBLE) * n)
      SELECT hour, q, n,
        round(bucket + 8 * (target - (cum - cnt)) / cnt, 6) AS est
      FROM x WHERE rn = 1"""),
    bench = true)

  /** SLIDING-window rollup as a structured stream
    * ([[graft.streaming.StreamPipeline.eventsSlidingAvailableNow]],
    * 1-hour windows every 15 minutes): the trending-metrics shape. The
    * oracle replays the window fan-out in batch SQL — every event joins
    * each of the 4 slide-aligned window starts covering it — pinning the
    * streamed sliding state to batch semantics hash-exactly, the same
    * contract as the tumbling twin above. */
  val qStreamSliding = Q(
    "q_stream_sliding_15m",
    (s, d) => graft.streaming.StreamPipeline.eventsSlidingAvailableNow(s, d),
    Some(s"""SELECT strftime(
        make_timestamp(((epoch_us(ts) // 900000000) - i) * 900000000),
        '%Y-%m-%d %H:%M:%S') AS win_start,
      event_type, count(*) AS n, ${dsumSql("value")} AS total_value
      FROM events CROSS JOIN range(0, 4) t(i)
      GROUP BY 1, 2"""),
    bench = true)

  /** Stream-STREAM interval join as a registered, oracle-checked query
    * ([[graft.streaming.StreamPipeline.clickAttributionAvailableNow]]):
    * each purchase attributes to the same user's clicks in the preceding
    * hour. The DuckDB oracle is the BATCH interval join over the same
    * events table — exactly-once file tracking plus the single
    * AvailableNow batch (watermark starts at −∞, so nothing is late)
    * make streamed ≡ batch row-for-row, and the hash gate enforces it.
    *
    * Scale: the interval bound is what lets Spark EVICT join state —
    * per-side state is O(watermark + window), the only stream-stream
    * join shape that survives an unbounded feed; the join itself
    * shuffles both sides on user_id exactly like the batch form. */
  val qStreamAttribution = Q(
    "q_stream_attribution",
    (s, d) => graft.streaming.StreamPipeline
      .clickAttributionAvailableNow(s, d, window = "1 hour",
        watermark = "2 hours"),
    Some("""SELECT p.user_id AS user_id, c.event_id AS click_id,
        p.event_id AS purchase_id, p.value AS purchase_value
      FROM events p JOIN events c
        ON c.user_id = p.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      WHERE p.event_type = 'purchase' AND c.event_type = 'click'"""),
    bench = true)

  /** Linear multi-touch attribution — the BATCH twin of
    * `q_stream_attribution`: each purchase's value splits EQUALLY over
    * the same user's clicks in the preceding hour (linear-touch, the
    * standard alternative to last-touch), then rolls up per click.
    * Last-touch needs only the as-of join (`q_asof_purchase_click`);
    * linear needs the full interval join plus a per-purchase count —
    * expressed as a window PARTITIONED BY purchase_id (bounded by
    * clicks-per-hour-per-user, never row-grained global).
    *
    * Scale: one user_id-keyed equi-join with a residual time band (per
    * user, events are few — no band bucketing needed), one bounded
    * window, one hash agg on click_id. Shares go through exact
    * DECIMAL(18,9) sums (Det rule) so per-click totals are
    * order-independent. */
  val qAttributionLinear = Q(
    "q_attribution_linear",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("c_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("p_us"), col("value"))
      val pairs = purchases.join(clicks, Seq("user_id"))
        .filter(col("p_us") >= col("c_us") &&
          col("p_us") <= col("c_us") + lit(3600L * 1000000L))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("purchase_id"))
      pairs.withColumn("n_clicks", count(lit(1)).over(w))
        .withColumn("share", col("value") / col("n_clicks"))
        .groupBy(col("click_id"), col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("share").cast(DecimalType(18, 9))).cast("double")
            .as("attributed"))
    },
    Some("""WITH c AS (
        SELECT user_id, event_id AS click_id, ts FROM events
        WHERE event_type = 'click'),
      p AS (
        SELECT user_id, event_id AS purchase_id, ts, value FROM events
        WHERE event_type = 'purchase'),
      pr AS (
        SELECT p.user_id, c.click_id, p.value,
          count(*) OVER (PARTITION BY p.purchase_id) AS n_clicks
        FROM p JOIN c ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
      SELECT click_id, user_id, count(*) AS n_purchases,
        CAST(sum(CAST(value / n_clicks AS DECIMAL(18,9))) AS DOUBLE)
          AS attributed
      FROM pr GROUP BY 1, 2"""))

  /** Semi-structured extraction through Spark 4's VARIANT type: the
    * `events.props` JSON column is parsed once (`parse_json` → binary
    * variant, NOT per-field string re-parsing) and `variant_get` pulls
    * the typed field — the log-ingestion pattern where schema isn't
    * known at write time. Stats per event_type over the extracted
    * value prove the parse is lossless end-to-end (oracle reads the
    * same JSON with DuckDB's native ->> extraction).
    *
    * Scale: parse+extract is a pure codegen-adjacent projection (no
    * shuffle) feeding one hash aggregate; the JSON column is pruned to
    * exactly `props` + group key at the scan. */
  val qJsonProps = Q(
    "q_events_json_props",
    (s, d) => {
      // DOUBLE extraction on BOTH engines: an "int" variant_get would
      // TRUNCATE a non-integer value while DuckDB's text cast ROUNDS it
      // ('1.5' -> 1 vs 2) — doubles parse identically everywhere
      val k = variant_get(parse_json(col("props")), "$.k", "double")
      Tables.events(s, d)
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(col("k")).as("n_with_k"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max"),
          round(davg(col("k").cast("double"), 6), 6).as("k_avg"))
    },
    Some(s"""SELECT event_type, count(*) AS n_events,
      count(CAST(props ->> 'k' AS DOUBLE)) AS n_with_k,
      min(CAST(props ->> 'k' AS DOUBLE)) AS k_min,
      max(CAST(props ->> 'k' AS DOUBLE)) AS k_max,
      round(${davgSql("CAST(props ->> 'k' AS DOUBLE)", 6)}, 6) AS k_avg
      FROM events GROUP BY 1"""))

  /** Per-user session windows via the native `session_window` aggregate
    * (graft.streaming.SessionWindows; §2.8 extension). Oracle replicates
    * the gap-merge with the standard lag + cumulative-sum rewrite: a new
    * session starts when the µs gap to the previous event is ≥ the 4-hour
    * gap (session windows are [start, last+gap) half-open). */
  val qSessions = Q(
    "q_sessions_gap",
    (s, d) => graft.streaming.SessionWindows.sessions(
      Tables.events(s, d), "4 hours"),
    Some(s"""WITH g AS (
        SELECT user_id, ts, event_id, value,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 14400000000
               THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, ts, value,
          sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS seq
        FROM g)
      SELECT user_id,
        strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        strftime(max(ts) + INTERVAL 4 HOUR, '%Y-%m-%d %H:%M:%S') AS session_end,
        count(*) AS n_events, ${dsumSql("value")} AS total_value
      FROM sess GROUP BY user_id, seq"""),
    bench = true)

  /** User-journey Markov transition matrix: each user's event sequence
    * (total-ordered by ts, event_id) is lagged into (from, to) bigram
    * counts, normalized into transition probabilities — the
    * behavioral-analytics staple behind next-action prediction and
    * journey maps. Scale shape: the lag window is partitioned by
    * user_id (per-partition work = one user's events, the
    * q_sessions_gap precedent), the bigram count is one hash agg at
    * |event_type|² grain, and the normalizer joins a broadcast of the
    * type-cardinality row-total aggregate — nothing row-grained past
    * the first window. */
  val qMarkov = Q(
    "q_markov_transitions",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val bigrams = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("from_type", lag(col("event_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
      val counts = bigrams
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = counts.groupBy("from_type").agg(sum("n").as("tot"))
      counts.join(broadcast(totals), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n") / col("tot"), 6).as("p"))
    },
    Some("""WITH seq AS (
        SELECT user_id, event_type,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS from_type
        FROM events),
      counts AS (
        SELECT from_type, event_type AS to_type, count(*) AS n
        FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2),
      totals AS (
        SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
        FROM counts GROUP BY 1)
      SELECT c.from_type, c.to_type, c.n,
        round(CAST(c.n AS DOUBLE) / t.tot, 6) AS p
      FROM counts c JOIN totals t ON c.from_type = t.from_type"""))

  /** Markov transitions as a structured stream
    * ([[graft.streaming.StreamPipeline.markovTransitionsAvailableNow]],
    * stateful last-event-per-user extraction): the streamed matrix
    * counts exactly the bigrams whose TO event the final watermark
    * passed — the oracle replays the batch lag window with that
    * cutoff (the q_stream_sessions_state oracle discipline). */
  val qStreamMarkov = Q(
    "q_stream_markov_transitions",
    (s, d) => graft.streaming.StreamPipeline
      .markovTransitionsAvailableNow(s, d),
    Some("""WITH wm AS (
        SELECT (epoch_us(max(ts)) // 1000) - 7200000 AS wm_ms FROM events),
      seq AS (
        SELECT user_id, ts, event_type,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS from_type
        FROM events),
      big AS (
        SELECT from_type, event_type AS to_type
        FROM seq, wm
        WHERE from_type IS NOT NULL
          AND epoch_us(ts) // 1000 < wm_ms),
      counts AS (
        SELECT from_type, to_type, count(*) AS n
        FROM big GROUP BY 1, 2),
      totals AS (
        SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
        FROM counts GROUP BY 1)
      SELECT c.from_type, c.to_type, c.n,
        round(CAST(c.n AS DOUBLE) / t.tot, 6) AS p
      FROM counts c JOIN totals t ON c.from_type = t.from_type"""))

  /** Trailing-baseline burst detection: each (event_type, hour) count
    * vs the mean/σ of that type's previous ≤24 OBSERVED hours —
    * the adaptive anomaly page (contrast q_error_spike_hours' GLOBAL
    * 3σ, which a diurnal pattern trips at every peak; a trailing local
    * baseline follows the cycle). The window frame holds at most 24
    * calendar-grain rows per type — bounded whatever the traffic — and
    * σ derives from frame-local (Σx², Σx, n) integer sums with the
    * q_corr_matrix fused spelling, so both engines divide identical
    * exact inputs. Cold-start hours (< 12 trailing observations) and
    * zero-variance baselines emit NULL z rather than engine-dependent
    * division artifacts. */
  val qBurst = Q(
    "q_burst_hours",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("hour").rowsBetween(-24, -1)
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_format(date_trunc("hour", col("ts")),
            "yyyy-MM-dd HH:mm:ss").as("hour"))
        .agg(count(lit(1)).as("n"))
      val scored = hourly
        .withColumn("bn", count(lit(1)).over(w))
        .withColumn("bs", sum(col("n")).over(w))
        .withColumn("bss", sum(col("n") * col("n")).over(w))
      val variance = ((col("bss").cast("double")
        - col("bs").cast("double") * col("bs") / col("bn")) / col("bn"))
      scored.select(col("event_type"), col("hour"), col("n"),
        when(col("bn") >= 12 && variance > 0d,
          round((col("n") - col("bs").cast("double") / col("bn"))
            / sqrt(variance), 6)).as("z_score"))
        .withColumn("is_burst", (col("z_score") > 3.0).cast("int"))
    },
    Some("""WITH hourly AS (
        SELECT event_type,
          strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
          count(*) AS n
        FROM events GROUP BY 1, 2),
      scored AS (
        SELECT event_type, hour, n,
          count(*) OVER w AS bn,
          CAST(sum(n) OVER w AS BIGINT) AS bs,
          CAST(sum(n * n) OVER w AS BIGINT) AS bss
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hour
          ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
      z AS (
        SELECT event_type, hour, n,
          CASE WHEN bn >= 12 AND (CAST(bss AS DOUBLE)
                - CAST(bs AS DOUBLE) * bs / bn) / bn > 0
            THEN round((n - CAST(bs AS DOUBLE) / bn)
              / sqrt((CAST(bss AS DOUBLE)
                - CAST(bs AS DOUBLE) * bs / bn) / bn), 6)
          END AS z_score
        FROM scored)
      SELECT event_type, hour, n, z_score,
        CAST(z_score > 3.0 AS INT) AS is_burst
      FROM z"""))

  /** Exponentially time-decayed customer value (half-life 7 days,
    * anchored at the corpus max date): Σ value·2^(−Δdays/7) per user —
    * the recency-weighted LTV that ranks a lapsed big spender below an
    * active small one. One row-local decay projection (the anchor is a
    * 1-row broadcast) + one user-keyed hash agg; each decayed term is
    * an IEEE pow on bit-identical inputs (integer day deltas), summed
    * through the exact-decimal Det.dsum channel so aggregation order
    * cannot move the hash. */
  val qDecayedClv = Q(
    "q_decayed_clv",
    (s, d) => {
      val ev = Tables.events(s, d)
      val ref = ev.agg(max(to_date(col("ts"))).as("ref_day"))
      ev.crossJoin(broadcast(ref))
        .select(col("user_id"),
          (col("value") * pow(lit(2.0),
            -datediff(col("ref_day"), to_date(col("ts"))).cast("double")
              / 7.0)).as("dv"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          round(dsum(col("dv"), 6), 6).as("decayed_value"))
    },
    Some(s"""WITH ref AS (
        SELECT max(CAST(ts AS DATE)) AS ref_day FROM events)
      SELECT user_id, count(*) AS n_events,
        round(${dsumSql(
          "value * pow(CAST(2.0 AS DOUBLE), " +
            "-CAST(date_diff('day', CAST(ts AS DATE), ref_day) " +
            "AS DOUBLE) / 7.0)", 6)}, 6) AS decayed_value
      FROM events CROSS JOIN ref
      GROUP BY 1"""))

  /** Two-proportion A/B z-test over a deterministic hash assignment:
    * orders split 50/50 by the md5 coin (the ext_hash_split rule),
    * "conversion" = the order contains a returned lineitem, and the
    * pooled two-proportion z statistic decides significance — the
    * experiment-readout staple (here an A/A test by construction, so
    * the expected readout is a small, insignificant z). Everything
    * reduces to four exact integers (n, x per variant) before any
    * floating point, so the z expression is IEEE on identical inputs;
    * degenerate pools (p = 0 or 1, an empty arm) emit NULL z rather
    * than a division artifact. One order-keyed agg + a left semi-style
    * flag join + one 4-int fold: flat single-row output at any
    * scale. */
  val qAbTest = Q(
    "q_ab_test_zscore",
    (s, d) => {
      val ret = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0))
          .as("conv"))
      val perOrder = Tables.orders(s, d)
        .select(col("o_orderkey"))
        .join(ret, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"),
          coalesce(col("conv"), lit(0)).as("conv"))
        .withColumn("variant",
          when(conv(substring(md5(col("o_orderkey").cast("string")), 1, 8),
            16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
      val folded = perOrder.groupBy().agg(
        sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === "A", col("conv").cast("long"))
          .otherwise(0L)).as("x_a"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === "B", col("conv").cast("long"))
          .otherwise(0L)).as("x_b"))
      val p = (col("x_a") + col("x_b")).cast("double") /
        (col("n_a") + col("n_b"))
      val z = (col("x_a").cast("double") / col("n_a")
        - col("x_b").cast("double") / col("n_b")) /
        sqrt(p * (lit(1.0) - p) *
          (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
      folded.select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        round(col("x_a").cast("double") / col("n_a"), 6).as("rate_a"),
        round(col("x_b").cast("double") / col("n_b"), 6).as("rate_b"),
        when(col("n_a") > 0 && col("n_b") > 0 && p > 0d && p < 1d,
          round(z, 6)).as("z_score"))
        .withColumn("significant", (abs(col("z_score")) > 1.96).cast("int"))
    },
    Some("""WITH ret AS (
        SELECT l_orderkey,
          max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS conv
        FROM lineitem GROUP BY 1),
      pu AS (
        SELECT o_orderkey, coalesce(r.conv, 0) AS conv,
          CASE WHEN ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),
              1, 8))::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS variant
        FROM orders o LEFT JOIN ret r ON o.o_orderkey = r.l_orderkey),
      f AS (
        SELECT
          CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_a,
          CAST(sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS BIGINT)
            AS x_a,
          CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_b,
          CAST(sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS BIGINT)
            AS x_b
        FROM pu),
      zc AS (
        SELECT n_a, x_a, n_b, x_b,
          round(CAST(x_a AS DOUBLE) / n_a, 6) AS rate_a,
          round(CAST(x_b AS DOUBLE) / n_b, 6) AS rate_b,
          CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) AS p
        FROM f)
      SELECT n_a, x_a, n_b, x_b, rate_a, rate_b,
        CASE WHEN n_a > 0 AND n_b > 0 AND p > 0 AND p < 1 THEN
          round((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
            / sqrt(p * (CAST(1.0 AS DOUBLE) - p)
              * (CAST(1.0 AS DOUBLE) / n_a + CAST(1.0 AS DOUBLE) / n_b)),
            6)
        END AS z_score,
        CAST(abs(CASE WHEN n_a > 0 AND n_b > 0 AND p > 0 AND p < 1 THEN
          round((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
            / sqrt(p * (CAST(1.0 AS DOUBLE) - p)
              * (CAST(1.0 AS DOUBLE) / n_a + CAST(1.0 AS DOUBLE) / n_b)),
            6)
        END) > 1.96 AS INT) AS significant
      FROM zc"""))

  /** Chi-square test of independence between order priority and order
    * status (the categorical-association readout: does fulfillment
    * state depend on priority?) plus Cramér's V effect size. Shape:
    * ONE hash aggregate to the |priorities|×|statuses| cell grain;
    * marginals, totals, and the statistic all re-aggregate that tiny
    * frame — the input is scanned exactly once at any size. Expected
    * counts and contributions are plain IEEE on exact integers in one
    * pinned tree; contributions sum through DECIMAL(38,12); V is
    * derived from the ROUNDED χ² so both engines agree. */
  val qChi2 = Q(
    "q_chi2_priority_status",
    (s, d) => {
      val cells = graft.ops.CacheScope.persist(
        Tables.orders(s, d)
          .groupBy(col("o_orderpriority").as("prio"),
            col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("obs")))
      val rt = cells.groupBy(col("prio")).agg(sum(col("obs")).as("rt"))
      val ct = cells.groupBy(col("status")).agg(sum(col("obs")).as("ct"))
      val tot = cells.agg(sum(col("obs")).as("n"),
        countDistinct(col("prio")).as("r"),
        countDistinct(col("status")).as("c"))
      val expd = (col("rt").cast("double") * col("ct")) / col("n")
      val contrib = (col("obs") - expd) * (col("obs") - expd) / expd
      val chi2 = cells.join(rt, Seq("prio")).join(ct, Seq("status"))
        .crossJoin(broadcast(tot.select(col("n"))))
        .agg(round(Det.dsumWide(contrib), 6).as("chi2"))
      chi2.crossJoin(broadcast(tot))
        .select(col("n"),
          ((col("r") - 1) * (col("c") - 1)).as("dof"),
          col("chi2"),
          when(col("n") > 0 && least(col("r"), col("c")) > 1,
            round(sqrt(col("chi2") /
              (col("n") * (least(col("r"), col("c")) - 1))), 6))
            .as("cramers_v"))
    },
    Some("""WITH cells AS MATERIALIZED (
        SELECT o_orderpriority AS prio, o_orderstatus AS status,
          count(*) AS obs
        FROM orders GROUP BY 1, 2),
      rt AS (SELECT prio, CAST(sum(obs) AS BIGINT) AS rt
        FROM cells GROUP BY 1),
      ct AS (SELECT status, CAST(sum(obs) AS BIGINT) AS ct
        FROM cells GROUP BY 1),
      tot AS (
        SELECT CAST(sum(obs) AS BIGINT) AS n,
          count(DISTINCT prio) AS r, count(DISTINCT status) AS c
        FROM cells),
      x2 AS (
        SELECT round(CAST(sum(CAST(
          (obs - (CAST(rt AS DOUBLE) * ct) / n)
            * (obs - (CAST(rt AS DOUBLE) * ct) / n)
            / ((CAST(rt AS DOUBLE) * ct) / n)
          AS DECIMAL(38,12))) AS DOUBLE), 6) AS chi2
        FROM cells JOIN rt USING (prio) JOIN ct USING (status)
        CROSS JOIN (SELECT n FROM tot))
      SELECT n, (r - 1) * (c - 1) AS dof, chi2,
        CASE WHEN n > 0 AND least(r, c) > 1 THEN
          round(sqrt(chi2 / (n * (least(r, c) - 1))), 6) END AS cramers_v
      FROM x2 CROSS JOIN tot"""))

  /** CUPED variance reduction (Deng et al. 2013) for the customer-level
    * experiment readout: covariate X = each customer's PRE-period spend
    * (orders before 1996-01-01), metric Y = post-period spend, arms by
    * a deterministic md5 coin on custkey (an A/A split, like
    * q_ab_test_zscore). θ = cov(X,Y)/var(X) from the pooled fused sums
    * (the Ols.slope tree), adjusted lift = raw lift − θ·(x̄_A − x̄_B),
    * and the variance-reduction factor is ρ²(X,Y) — the fraction of
    * metric variance the covariate removes, the whole point of CUPED.
    *
    * Shape: one customer-keyed aggregate (exact decimal conditional
    * sums), then ONE 1-row fused-sums fold — n, per-arm sums, pooled
    * second moments — so arms, θ, and the adjustment all come out of a
    * single pass with no second scan and no join. Per-customer x, y are
    * exact-decimal-derived doubles; second moments go through
    * DECIMAL(38,12) (dsumWide), so row order cannot move the hash.
    * θ is ROUNDED to 6 dp before it adjusts the lift — both engines
    * use the same rounded value. Degenerate var(X) ≤ 0 → NULL θ/adj. */
  val qCuped = Q(
    "q_cuped_adjusted",
    (s, d) => {
      val pre = to_date(col("o_orderdate")) < lit("1996-01-01").cast("date")
      val per = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(
          Det.dsum(when(pre, col("o_totalprice")).otherwise(lit(0.0)))
            .as("x"),
          Det.dsum(when(!pre, col("o_totalprice")).otherwise(lit(0.0)))
            .as("y"))
        .withColumn("arm",
          when(conv(substring(md5(concat(lit("cuped:"),
            col("o_custkey").cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2 === 0, "A").otherwise("B"))
      val f = per.groupBy().agg(
        count(lit(1)).as("n"),
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"),
        Det.dsum(col("x")).as("sx"),
        Det.dsum(col("y")).as("sy"),
        Det.dsumWide(col("x") * col("x")).as("sxx"),
        Det.dsumWide(col("x") * col("y")).as("sxy"),
        Det.dsumWide(col("y") * col("y")).as("syy"),
        Det.dsum(when(col("arm") === "A", col("x")).otherwise(lit(0.0)))
          .as("sxa"),
        Det.dsum(when(col("arm") === "A", col("y")).otherwise(lit(0.0)))
          .as("sya"),
        Det.dsum(when(col("arm") === "B", col("x")).otherwise(lit(0.0)))
          .as("sxb"),
        Det.dsum(when(col("arm") === "B", col("y")).otherwise(lit(0.0)))
          .as("syb"))
      val ok = col("n_a") > 0 && col("n_b") > 0 &&
        (col("n") * col("sxx") - col("sx") * col("sx")) > 0
      val theta = Det.Ols.slope(
        col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"))
      f.select(col("n"), col("n_a"), col("n_b"),
        when(ok, theta).as("theta"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(col("sya") / col("n_a") - col("syb") / col("n_b"), 6))
          .as("lift_raw"),
        when(ok,
          round((col("sya") / col("n_a") - col("syb") / col("n_b"))
            - theta * (col("sxa") / col("n_a") - col("sxb") / col("n_b")),
            6)).as("lift_adj"),
        when(ok && (col("n") * col("syy") - col("sy") * col("sy")) > 0,
          Det.Ols.r2(col("n"), col("sx"), col("sy"), col("sxy"),
            col("sxx"), col("syy"))).as("var_reduction"))
    },
    Some {
      val coin = """('0x' || substring(md5('cuped:'
          || CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT % 2 = 0"""
      val okSql = "n_a > 0 AND n_b > 0 AND (n * sxx - sx * sx) > 0"
      s"""WITH pc AS (
        SELECT o_custkey,
          CASE WHEN $coin THEN 'A' ELSE 'B' END AS arm,
          ${Det.dsumSql("CASE WHEN CAST(o_orderdate AS DATE) " +
            "< DATE '1996-01-01' THEN o_totalprice ELSE 0.0 END")} AS x,
          ${Det.dsumSql("CASE WHEN NOT (CAST(o_orderdate AS DATE) " +
            "< DATE '1996-01-01') THEN o_totalprice ELSE 0.0 END")} AS y
        FROM orders GROUP BY 1),
      f AS (
        SELECT count(*) AS n,
          CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_a,
          CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_b,
          ${Det.dsumSql("x")} AS sx, ${Det.dsumSql("y")} AS sy,
          ${Det.dsumWideSql("x * x")} AS sxx,
          ${Det.dsumWideSql("x * y")} AS sxy,
          ${Det.dsumWideSql("y * y")} AS syy,
          ${Det.dsumSql("CASE WHEN arm = 'A' THEN x ELSE 0.0 END")}
            AS sxa,
          ${Det.dsumSql("CASE WHEN arm = 'A' THEN y ELSE 0.0 END")}
            AS sya,
          ${Det.dsumSql("CASE WHEN arm = 'B' THEN x ELSE 0.0 END")}
            AS sxb,
          ${Det.dsumSql("CASE WHEN arm = 'B' THEN y ELSE 0.0 END")}
            AS syb
        FROM pc)
      SELECT n, n_a, n_b,
        CASE WHEN $okSql THEN
          ${Det.Ols.slopeSql("n", "sx", "sy", "sxy", "sxx")}
        END AS theta,
        CASE WHEN n_a > 0 AND n_b > 0 THEN
          round(sya / n_a - syb / n_b, 6) END AS lift_raw,
        CASE WHEN $okSql THEN
          round((sya / n_a - syb / n_b)
            - ${Det.Ols.slopeSql("n", "sx", "sy", "sxy", "sxx")}
              * (sxa / n_a - sxb / n_b), 6) END AS lift_adj,
        CASE WHEN $okSql AND (n * syy - sy * sy) > 0 THEN
          ${Det.Ols.r2Sql("n", "sx", "sy", "sxy", "sxx", "syy")}
        END AS var_reduction
      FROM f"""
    })

  /** Kaplan–Meier churn survival curve: per-customer lifetime = days
    * from first to last order; a customer whose last order predates
    * the corpus horizon minus 90 days is CHURNED (event observed),
    * later customers are right-censored — the standard
    * retention-analysis estimator.
    * S(t) = Π_{s≤t} (1 − d_s/n_s) computed as exp of the exact-decimal
    * running sum of ln factors (each ln term truncated to 12 dp before
    * the sum, so frame order cannot move the hash); a day consuming
    * the entire risk set (d = n) would be ln(0) — DuckDB raises on
    * that — so extinction is a guarded flag that pins survival to 0.0
    * from that day on. The windows run over the LIFETIME-DAY grain
    * (bounded by the observation window, ~dozens of rows), whitelisted
    * in PlanGuardSpec like the other manifest-grain windows. */
  val qKaplanMeier = Q(
    "q_churn_kaplan_meier",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val ord = Tables.orders(s, d)
      val ref = ord.agg(max(to_date(col("o_orderdate"))).as("ref_day"))
      val users = ord.groupBy("o_custkey")
        .agg(min(to_date(col("o_orderdate"))).as("first_day"),
          max(to_date(col("o_orderdate"))).as("last_day"))
        .crossJoin(broadcast(ref))
        .select(datediff(col("last_day"), col("first_day")).as("life"),
          when(col("last_day") < date_sub(col("ref_day"), 90), 1)
            .otherwise(0).as("churned"))
      val grain = users.groupBy("life")
        .agg(sum(col("churned")).as("d"),
          sum(lit(1) - col("churned")).as("c"))
      val wRisk = Window.orderBy("life")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val wCum = Window.orderBy("life")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val risked = grain
        .withColumn("n_at_risk", sum(col("d") + col("c")).over(wRisk))
        .withColumn("ln_term",
          when(col("d") < col("n_at_risk"),
            log(lit(1.0) - col("d").cast("double") / col("n_at_risk"))))
        .withColumn("extinct",
          max(when(col("d") >= col("n_at_risk"), 1).otherwise(0))
            .over(wCum))
        .withColumn("cum_ln",
          sum(col("ln_term").cast(DecimalType(18, 12))).over(wCum)
            .cast("double"))
      risked.select(col("life"), col("d"), col("c"), col("n_at_risk"),
        when(col("extinct") === 1, 0.0)
          .otherwise(round(exp(col("cum_ln")), 6)).as("survival"))
    },
    Some("""WITH ref AS (
        SELECT max(CAST(o_orderdate AS DATE)) AS ref_day FROM orders),
      u AS (
        SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS first_day,
          max(CAST(o_orderdate AS DATE)) AS last_day
        FROM orders GROUP BY 1),
      lifes AS (
        SELECT date_diff('day', first_day, last_day) AS life,
          CASE WHEN last_day < ref_day - INTERVAL 90 DAY THEN 1 ELSE 0 END
            AS churned
        FROM u CROSS JOIN ref),
      grain AS (
        SELECT life, CAST(sum(churned) AS BIGINT) AS d,
          CAST(sum(1 - churned) AS BIGINT) AS c
        FROM lifes GROUP BY 1),
      risked AS (
        SELECT life, d, c,
          CAST(sum(d + c) OVER (ORDER BY life
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
            AS n_at_risk
        FROM grain),
      terms AS (
        SELECT life, d, c, n_at_risk,
          CASE WHEN d < n_at_risk THEN
            ln(CAST(1.0 AS DOUBLE) - CAST(d AS DOUBLE) / n_at_risk)
          END AS ln_term,
          max(CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END)
            OVER wc AS extinct
        FROM risked
        WINDOW wc AS (ORDER BY life ROWS UNBOUNDED PRECEDING)),
      cums AS (
        SELECT life, d, c, n_at_risk, extinct,
          CAST(sum(CAST(ln_term AS DECIMAL(18, 12)))
            OVER (ORDER BY life ROWS UNBOUNDED PRECEDING) AS DOUBLE)
            AS cum_ln
        FROM terms)
      SELECT life, d, c, n_at_risk,
        CASE WHEN extinct = 1 THEN 0.0
          ELSE round(exp(cum_ln), 6) END AS survival
      FROM cums"""))

  /** Funnel conversion (view → purchase within 7 days of the user's
    * FIRST view) — the product-analytics staple. Shape: one conditional
    * aggregate per user (min view ts, min/count of purchases after it) —
    * two passes expressed as one self-join of per-user aggregates, both
    * keyed on user_id (exchange reuse), no windows, no event-order
    * shuffle. Timestamps compare in epoch micros (integer) and render as
    * strings (Det rule). */
  /** k-STEP sequential funnel (view → click → purchase, each step
    * strictly after the previous step AND within a 24h step horizon):
    * stage populations and step conversion rates — the generalized form
    * of the 2-step funnel below, where step k's earliest QUALIFYING
    * timestamp anchors step k+1 (the horizon is what makes the funnel
    * discriminate on a dense event stream; without it every active user
    * eventually completes). Three user-keyed aggregates chained by
    * user-id joins (each bounded to users still in the funnel — the
    * population only shrinks), one 1-row summary; no windows, nothing
    * user-corpus-sized on one reducer. Division guards keep empty
    * stages NULL-rated on both engines. */
  val qFunnel3Step = Q(
    "q_funnel_3step",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
      val horizon = 24L * 3600 * 1000000L
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("us") > col("v_us")
          && col("us") <= col("v_us") + horizon)
        .groupBy(col("user_id")).agg(min(col("us")).as("c_us"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("us") > col("c_us")
          && col("us") <= col("c_us") + horizon)
        .groupBy(col("user_id")).agg(min(col("us")).as("p_us"))
      val nv = v.agg(count(lit(1)).as("users_view"))
      val nc = c.agg(count(lit(1)).as("users_view_click"))
      val np = p.agg(count(lit(1)).as("users_full_funnel"))
      nv.crossJoin(nc).crossJoin(np)
        .select(col("users_view"), col("users_view_click"),
          col("users_full_funnel"),
          when(col("users_view") > 0,
            round(col("users_view_click").cast("double")
              / col("users_view"), 6)).as("rate_view_to_click"),
          when(col("users_view_click") > 0,
            round(col("users_full_funnel").cast("double")
              / col("users_view_click"), 6)).as("rate_click_to_purchase"),
          when(col("users_view") > 0,
            round(col("users_full_funnel").cast("double")
              / col("users_view"), 6)).as("rate_full"))
    },
    Some("""WITH v AS (
        SELECT user_id, min(epoch_us(ts)) AS v_us
        FROM events WHERE event_type = 'view' GROUP BY 1),
      c AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS c_us
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.v_us
          AND epoch_us(e.ts) <= v.v_us + 86400000000
        GROUP BY 1),
      p AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.c_us
          AND epoch_us(e.ts) <= c.c_us + 86400000000
        GROUP BY 1),
      s AS (
        SELECT (SELECT count(*) FROM v) AS users_view,
          (SELECT count(*) FROM c) AS users_view_click,
          (SELECT count(*) FROM p) AS users_full_funnel)
      SELECT users_view, users_view_click, users_full_funnel,
        CASE WHEN users_view > 0
          THEN round(CAST(users_view_click AS DOUBLE) / users_view, 6)
          END AS rate_view_to_click,
        CASE WHEN users_view_click > 0
          THEN round(CAST(users_full_funnel AS DOUBLE)
            / users_view_click, 6) END AS rate_click_to_purchase,
        CASE WHEN users_view > 0
          THEN round(CAST(users_full_funnel AS DOUBLE) / users_view, 6)
          END AS rate_full
      FROM s"""))

  /** New-vs-returning daily active users: each (day, user) is NEW on
    * the user's first active day and RETURNING after — the growth-page
    * companion to the rolling-WAU sketch. One user-keyed min aggregate
    * (first-seen day), one distinct (day, user) set, one equi-join back
    * on the user, one day-keyed rollup — every stage keyed and
    * map-side-combining; nothing day- or user-grain funnels through a
    * single reducer. */
  val qNewVsReturning = Q(
    "q_new_vs_returning",
    (s, d) => {
      val du = Tables.events(s, d)
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("user_id")).distinct()
      val firstSeen = du.groupBy(col("user_id"))
        .agg(min(col("day")).as("first_day"))
      du.join(firstSeen, Seq("user_id"))
        .groupBy(col("day"))
        .agg(
          sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .as("new_users"),
          sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L))
            .as("returning_users"))
        .withColumn("dau", col("new_users") + col("returning_users"))
        .withColumn("returning_frac",
          round(col("returning_users").cast("double") / col("dau"), 6))
    },
    Some("""WITH du AS (
        SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, user_id
        FROM events),
      fs AS (
        SELECT user_id, min(day) AS first_day FROM du GROUP BY 1)
      SELECT day,
        CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
          AS new_users,
        CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT)
          AS returning_users,
        CAST(count(*) AS BIGINT) AS dau,
        round(CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END)
          AS DOUBLE) / count(*), 6) AS returning_frac
      FROM du JOIN fs USING (user_id)
      GROUP BY day"""))

  val qFunnel = Q(
    "q_funnel_view_purchase",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("value"))
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("first_view_us"))
      val horizon = 7L * 24 * 3600 * 1000000L
      ev.filter(col("event_type") === "purchase")
        .join(firstView, Seq("user_id"))
        .filter(col("us") > col("first_view_us")
          && col("us") <= col("first_view_us") + horizon)
        .groupBy(col("user_id"), col("first_view_us"))
        .agg(count(lit(1)).as("n_purchases"),
          min(col("us")).as("first_purchase_us"),
          dsum(col("value")).as("purchase_value"))
        .select(col("user_id"),
          date_format(timestamp_micros(col("first_view_us")),
            "yyyy-MM-dd HH:mm:ss").as("first_view"),
          date_format(timestamp_micros(col("first_purchase_us")),
            "yyyy-MM-dd HH:mm:ss").as("first_purchase"),
          expr("(first_purchase_us - first_view_us) div 3600000000")
            .as("hours_to_convert"),
          col("n_purchases"), col("purchase_value"))
    },
    Some(s"""WITH fv AS (
        SELECT user_id, min(epoch_us(ts)) AS first_view_us
        FROM events WHERE event_type = 'view' GROUP BY 1)
      SELECT e.user_id,
        strftime(make_timestamp(f.first_view_us), '%Y-%m-%d %H:%M:%S')
          AS first_view,
        strftime(make_timestamp(min(epoch_us(e.ts))), '%Y-%m-%d %H:%M:%S')
          AS first_purchase,
        CAST((min(epoch_us(e.ts)) - f.first_view_us) // 3600000000
          AS BIGINT) AS hours_to_convert,
        count(*) AS n_purchases, ${dsumSql("e.value")} AS purchase_value
      FROM events e JOIN fv f USING (user_id)
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) > f.first_view_us
        AND epoch_us(e.ts) <= f.first_view_us + 604800000000
      GROUP BY e.user_id, f.first_view_us"""))

  /** Market-basket pair lift — see [[qBasketLift]]. Exposed with the
    * `maxBasket` contract parameterized so the spec can pin an
    * over-cap basket's exclusion with a small cap; baskets above the
    * cap are dropped from BOTH pair generation and item supports (one
    * consistent post-cap item universe), while the n_orders
    * normalizer stays the full order book. */
  def basketPairLift(lineitem: DataFrame, orders: DataFrame,
      maxBasket: Long = AnalyticsQueries2.DefaultMaxBasket): DataFrame = {
    val raw = lineitem
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      .distinct()
    // maxBasket contract (AnalyticsQueries2.DefaultMaxBasket rationale):
    // prune pathological baskets before the self-join sees them
    val sane = raw.groupBy(col("okey"))
      .agg(count(lit(1)).as("__bs"))
      .filter(col("__bs") <= maxBasket)
      .select(col("okey"))
    val items = graft.ops.CacheScope.persist(raw.join(sane, Seq("okey")))
    val nOrders = orders.agg(count(lit(1)).as("n_orders"))
    val supp = items.groupBy(col("part")).agg(count(lit(1)).as("n_part"))
    val pairs = items.as("a")
      .join(items.as("b"), col("a.okey") === col("b.okey")
        && col("a.part") < col("b.part"))
      .groupBy(col("a.part").as("part_a"), col("b.part").as("part_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 3)
    pairs
      .join(supp.select(col("part").as("part_a"),
        col("n_part").as("n_a")), Seq("part_a"))
      .join(supp.select(col("part").as("part_b"),
        col("n_part").as("n_b")), Seq("part_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("n_pair"),
        round(col("n_pair") * col("n_orders")
          / (col("n_a") * col("n_b")), 6).as("lift"))
      .orderBy(col("lift").desc, col("part_a").asc, col("part_b").asc)
      .limit(25)
  }

  /** Market-basket pair lift over order line items — co-occurrence
    * analysis, the classic association shape. The self-join keys on
    * l_orderkey and the pair explosion is bounded by ORDER size (≤ 7
    * items in TPC-H-ish data, and small in any real basket) AND by the
    * [[AnalyticsQueries2.DefaultMaxBasket]] contract — a pre-agg drops
    * pathological baskets (a bot, a wholesale feed) before the
    * self-join, so no single hot orderkey can emit C(basket, 2)
    * candidate rows; item supports broadcast back onto the pair
    * counts. lift = P(a,b) / (P(a)·P(b)) over order-presence
    * probabilities, computed with exact integer counts and rounded
    * once at the end. Top-25 by (lift, pair) total order →
    * TakeOrderedAndProject. */
  val qBasketLift = Q(
    "q_basket_pair_lift",
    (s, d) => basketPairLift(Tables.lineitem(s, d), Tables.orders(s, d)),
    Some(s"""WITH items0 AS (
        SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
      sane AS (
        SELECT okey FROM items0
        GROUP BY 1 HAVING count(*) <= ${AnalyticsQueries2.DefaultMaxBasket}),
      items AS (SELECT i.* FROM items0 i JOIN sane USING (okey)),
      n AS (SELECT count(*) AS n_orders FROM orders),
      supp AS (SELECT part, count(*) AS n_part FROM items GROUP BY 1),
      pairs AS (
        SELECT a.part AS part_a, b.part AS part_b, count(*) AS n_pair
        FROM items a JOIN items b
          ON a.okey = b.okey AND a.part < b.part
        GROUP BY 1, 2
        HAVING count(*) >= 3)
      SELECT part_a, part_b, n_pair,
        round(n_pair * n.n_orders
          / CAST(sa.n_part * sb.n_part AS DOUBLE), 6) AS lift
      FROM pairs
      JOIN supp sa ON sa.part = pairs.part_a
      JOIN supp sb ON sb.part = pairs.part_b
      CROSS JOIN n
      ORDER BY lift DESC, part_a, part_b
      LIMIT 25"""))

  /** Weekly cohort retention — users cohorted by their signup week,
    * counted as active in every later week they produce any event (the
    * other product-analytics staple next to [[qFunnel]]). Shape: one
    * per-user min aggregate, one distinct (user, week) aggregate, an
    * equi-join on user_id, and the final (cohort, offset) count — no
    * windows, every shuffle keyed high-cardinality. Weeks truncate to
    * Monday on both engines; offsets are integer day-diffs div 7. */
  val qCohort = Q(
    "q_cohort_retention",
    (s, d) => {
      val ev = Tables.events(s, d)
      val cohorts = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(to_date(date_trunc("week", col("ts")))).as("cohort_week"))
      val activity = ev
        .select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("week"))
        .distinct()
      activity.join(cohorts, Seq("user_id"))
        // filter BEFORE dividing: Spark's int division truncates toward
        // zero while DuckDB's // floors, so a negative (pre-signup) day
        // diff would land at offset 0 here and offset -1 in the oracle
        .filter(col("week") >= col("cohort_week"))
        .select(col("user_id"), col("cohort_week"),
          (datediff(col("week"), col("cohort_week")) / 7)
            .cast("int").as("week_offset"))
        .groupBy(
          date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
          col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
    },
    Some("""WITH cohorts AS (
        SELECT user_id,
          CAST(min(date_trunc('week', ts)) AS DATE) AS cohort_week
        FROM events WHERE event_type = 'signup' GROUP BY 1),
      activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events),
      offsets AS (
        SELECT a.user_id, c.cohort_week,
          CAST(date_diff('day', c.cohort_week, a.week) // 7 AS INT)
            AS week_offset
        FROM activity a JOIN cohorts c USING (user_id)
        WHERE a.week >= c.cohort_week)
      SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week, week_offset,
        count(DISTINCT user_id) AS n_active
      FROM offsets
      GROUP BY 1, 2"""))

  /** The as-of queries' two sides: purchases, and clicks made unique
    * per (user_id, ts) with the click time kept as `click_raw_ts`. */
  private def asofSides(s: SparkSession, d: String) = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("purchase_id"),
        col("value").as("purchase_value"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"),
        max_by(col("value"), col("event_id")).as("click_value"))
      .select(col("user_id"), col("ts").as("click_raw_ts"), col("click_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        col("click_value"))
    (purchases, clicks)
  }

  /** The as-of queries' output columns. */
  private val asofSelect: DataFrame => DataFrame = df => df.select(
    col("user_id"), col("purchase_id"),
    date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
    col("purchase_value"), col("click_id"), col("click_ts"),
    col("click_value"))

  /** As-of join ([[graft.ops.AsofJoin]]): each purchase event joined to
    * the SAME user's most recent click at-or-before it — the canonical
    * event-attribution shape. The right side is pre-aggregated unique per
    * (user_id, ts) (the operator's determinism contract; DuckDB's ASOF
    * carries the same tie caveat), with max(event_id) / arg_max picking
    * the representative click. Oracle: DuckDB's native ASOF LEFT JOIN. */
  val qAsof = Q(
    "q_asof_purchase_click",
    (s, d) => {
      val (purchases, clicks) = asofSides(s, d)
      asofSelect(graft.ops.AsofJoin(
        purchases, clicks, Seq("user_id"), "ts", "click_raw_ts"))
    },
    Some("""WITH r AS (
        SELECT user_id, ts, max(event_id) AS click_id,
          strftime(ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
          arg_max("value", event_id) AS click_value
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
      l AS (
        SELECT user_id, ts, event_id AS purchase_id,
          "value" AS purchase_value
        FROM events WHERE event_type = 'purchase')
      SELECT l.user_id, l.purchase_id,
        strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        l.purchase_value, r.click_id, r.click_ts, r.click_value
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"""),
    bench = true)

  /** Same query through the NATIVE as-of operator
    * ([[graft.plans.AsofJoinNative]]: custom LogicalPlan → Strategy →
    * sort-merge SparkPlan) — sharing the composed version's exact oracle
    * proves the two implementations are interchangeable end-to-end. */
  val qAsofNative = Q(
    "q_asof_native",
    (s, d) => {
      val (purchases, clicks) = asofSides(s, d)
      asofSelect(graft.plans.AsofJoinNative.join(
        purchases, clicks, Seq("user_id"), "ts", "click_raw_ts"))
    },
    Some("""WITH r AS (
        SELECT user_id, ts, max(event_id) AS click_id,
          strftime(ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
          arg_max("value", event_id) AS click_value
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
      l AS (
        SELECT user_id, ts, event_id AS purchase_id,
          "value" AS purchase_value
        FROM events WHERE event_type = 'purchase')
      SELECT l.user_id, l.purchase_id,
        strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        l.purchase_value, r.click_id, r.click_ts, r.click_value
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"""),
    bench = true)

  /** FORWARD as-of through the native operator: the first click at or
    * after each purchase (follow-up attribution). Oracle: DuckDB ASOF
    * with the inequality flipped. */
  val qAsofForward = Q(
    "q_asof_forward",
    (s, d) => {
      val (purchases, clicks) = asofSides(s, d)
      asofSelect(graft.plans.AsofJoinNative.join(
        purchases, clicks, Seq("user_id"), "ts", "click_raw_ts",
        forward = true))
    },
    Some("""WITH r AS (
        SELECT user_id, ts, max(event_id) AS click_id,
          strftime(ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
          arg_max("value", event_id) AS click_value
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
      l AS (
        SELECT user_id, ts, event_id AS purchase_id,
          "value" AS purchase_value
        FROM events WHERE event_type = 'purchase')
      SELECT l.user_id, l.purchase_id,
        strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        l.purchase_value, r.click_id, r.click_ts, r.click_value
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts"""))

  /** Toleranced as-of: the attribution-window shape — only a click
    * within the 30 minutes BEFORE the purchase counts. Tolerance is
    * micros (TIMESTAMP internal unit). Oracle: band left-join + arg_max
    * (exact because the right side is unique per (user_id, ts)). */
  val qAsofTolerance = Q(
    "q_asof_tolerance",
    (s, d) => {
      val (purchases, clicks) = asofSides(s, d)
      asofSelect(graft.plans.AsofJoinNative.join(
        purchases, clicks, Seq("user_id"), "ts", "click_raw_ts",
        tolerance = Some(30L * 60 * 1000000)))
    },
    Some("""WITH r AS (
        SELECT user_id, ts, max(event_id) AS click_id,
          strftime(ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
          arg_max("value", event_id) AS click_value
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
      l AS (
        SELECT user_id, ts, event_id AS purchase_id,
          "value" AS purchase_value
        FROM events WHERE event_type = 'purchase')
      SELECT l.user_id, l.purchase_id,
        strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        l.purchase_value,
        arg_max(r.click_id, r.ts) AS click_id,
        arg_max(r.click_ts, r.ts) AS click_ts,
        arg_max(r.click_value, r.ts) AS click_value
      FROM l LEFT JOIN r ON l.user_id = r.user_id
        AND r.ts <= l.ts AND r.ts >= l.ts - INTERVAL 30 MINUTE
      GROUP BY l.user_id, l.purchase_id, l.ts, l.purchase_value"""))

  /** Point-in-time (feature-store) join: each purchase enriched with
    * the latest click, view, AND signup known at purchase time — three
    * CHAINED native as-ofs. The chain is the scale story: the exec's
    * `outputPartitioning`/`outputOrdering` pass the left side through,
    * so as-of #2 and #3 add NO new Exchange and NO new Sort for the
    * accumulating left — the whole 3-table enrichment shuffles the left
    * exactly once (spec-pinned: 4 exchanges total, 1 left + 3 rights;
    * the union+window rewrite would pay 3 full re-shuffles). Oracle:
    * chained DuckDB ASOF LEFT JOINs. */
  val qAsofPit = Q(
    "q_asof_pointintime",
    (s, d) => {
      val ev = Tables.events(s, d)
      // repartition by user_id BEFORE the (user_id, ts) aggregate:
      // HashPartitioning(user_id) satisfies both the agg's clustering
      // AND the as-of's required distribution, so each side shuffles
      // once instead of twice (agg shuffle + re-cluster shuffle)
      def side(tp: String) = ev.filter(col("event_type") === tp)
        .repartition(col("user_id"))
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as(s"${tp}_id"))
        .select(col("user_id"), col("ts").as(s"${tp}_raw_ts"),
          col(s"${tp}_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as(s"${tp}_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"))
      val pit = Seq("click", "view", "signup").foldLeft(purchases) {
        (acc, tp) => graft.plans.AsofJoinNative.join(
          acc, side(tp), Seq("user_id"), "ts", s"${tp}_raw_ts")
      }
      pit.select(col("user_id"), col("purchase_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        col("click_id"), col("click_ts"),
        col("view_id"), col("view_ts"),
        col("signup_id"), col("signup_ts"))
    },
    Some("""WITH ck AS (
        SELECT user_id, ts, max(event_id) AS click_id,
          strftime(ts, '%Y-%m-%d %H:%M:%S') AS click_ts
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
      vw AS (
        SELECT user_id, ts, max(event_id) AS view_id,
          strftime(ts, '%Y-%m-%d %H:%M:%S') AS view_ts
        FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
      sg AS (
        SELECT user_id, ts, max(event_id) AS signup_id,
          strftime(ts, '%Y-%m-%d %H:%M:%S') AS signup_ts
        FROM events WHERE event_type = 'signup' GROUP BY user_id, ts),
      l AS (
        SELECT user_id, ts, event_id AS purchase_id
        FROM events WHERE event_type = 'purchase')
      SELECT l.user_id, l.purchase_id,
        strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        ck.click_id, ck.click_ts,
        vw.view_id, vw.view_ts,
        sg.signup_id, sg.signup_ts
      FROM l
      ASOF LEFT JOIN ck ON l.user_id = ck.user_id AND l.ts >= ck.ts
      ASOF LEFT JOIN vw ON l.user_id = vw.user_id AND l.ts >= vw.ts
      ASOF LEFT JOIN sg ON l.user_id = sg.user_id AND l.ts >= sg.ts"""),
    bench = true)

  /** Band-proximity aggregate: for each event, how many events OTHER
    * users produced within ±30 minutes, and their total value — the
    * time-proximity shape (co-occurrence, correlation windows) that a
    * raw inequality predicate would plan as an all-pairs nested loop.
    * The oracle states the predicate naively (join then group); the
    * Spark side never materializes a pair: [[graft.ops.BandAgg]]
    * answers the whole-band aggregate from a two-phase distributed
    * prefix sum (O(n log n), pair-free — see the r14 rewrite note), and
    * the same-user exclusion is subtracted via a user-partitioned range
    * window (per-user bands are the only pair-grained term and they
    * never leave their aggregate either). Decimal arithmetic end to
    * end, so subtraction cancels exactly and the values match the
    * pairwise oracle bit-for-bit; `n_nearby > 0` restores the inner
    * join's presence semantics. */
  val qBandJoin = Q(
    "q_band_join_nearby_events",
    (s, d) => {
      val ev = Tables.events(s, d)
      val tol = 1800L * 1000000
      val dec = DecimalType(38, 2)
      val base = ev.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      val band = graft.ops.BandAgg(base, "event_id", "us",
        base.select(col("us"), col("value")), "us", "value", tol)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-tol, tol)
      val own = base.select(col("event_id"),
        count(lit(1)).over(w).as("o_c"),
        sum(when(col("value").isNotNull, 1L).otherwise(0L)).over(w)
          .as("o_nn"),
        sum(coalesce(col("value").cast(dec), lit(0).cast(dec))).over(w)
          .as("o_v"))
      band.join(own, Seq("event_id"))
        .select(col("event_id"),
          (col("band_cnt") - col("o_c")).as("n_nearby"),
          when(col("band_nn") - col("o_nn") > 0L,
            (col("band_val") - col("o_v")).cast("double"))
            .otherwise(lit(null).cast("double")).as("nearby_value"))
        .filter(col("n_nearby") > 0L)
    },
    Some(s"""SELECT e1.event_id, count(*) AS n_nearby,
        ${dsumSql("e2.value")} AS nearby_value
      FROM events e1 JOIN events e2
        ON e2.user_id != e1.user_id
       AND abs(epoch_us(e1.ts) - epoch_us(e2.ts)) <= 1800000000
      GROUP BY e1.event_id"""),
    bench = true)

  /** Deliberately SKEWED band join — the flash-sale pileup the uniform
    * synthetic data never produces: every 64th event's timestamp
    * collapses onto one hot instant (±1 ms id-derived jitter), so at
    * sf0.1 one time bucket holds ~1.6k rows and would run its ~2.4M-pair
    * cross product on ONE task under the plain bucket join. The query
    * runs [[graft.ops.BandAgg]]: the hot instant never materializes its
    * ~2.4M-pair cross product AT ALL — the band aggregate reads the
    * whole pileup off a range-partitioned prefix sum (the hot bucket
    * costs one task an O(m log m) sort instead of O(m²) pairs that
    * salting could only split ⌈|b|/200⌉ ways), and the self-pair is
    * subtracted exactly (its own decimal-rounded value); the oracle
    * pins the values through the aggregate plan. Tolerance is 60 s, so the
    * uniform background contributes thin bands and the hot instant
    * dominates — the stress is the point. */
  val qBandJoinSkewed = Q(
    "q_band_join_skewed",
    (s, d) => {
      val ev = Tables.events(s, d)
      // 2024-06-01 12:00:00 UTC in epoch micros — inside the events span
      val hotUs = 1717243200L * 1000000L
      def skewKey(id: org.apache.spark.sql.Column,
          ts: org.apache.spark.sql.Column) =
        when(id % 64 === 0, lit(hotUs) + (id % 1000) * 1000L)
          .otherwise(unix_micros(ts))
      val dec = DecimalType(38, 2)
      val base = ev.select(col("event_id"),
        skewKey(col("event_id"), col("ts")).as("us"), col("value"))
      val band = graft.ops.BandAgg(base, "event_id", "us",
        base.select(col("us"), col("value")), "us", "value",
        60L * 1000000)
      band.join(base.select(col("event_id"), col("value")),
          Seq("event_id"))
        .select(col("event_id"),
          (col("band_cnt") - 1L).as("n_nearby"),
          when(col("band_nn")
              - when(col("value").isNotNull, 1L).otherwise(0L) > 0L,
            (col("band_val")
              - coalesce(col("value").cast(dec), lit(0).cast(dec)))
              .cast("double"))
            .otherwise(lit(null).cast("double")).as("nearby_value"))
        .filter(col("n_nearby") > 0L)
    },
    Some(s"""WITH k AS (
        SELECT event_id, user_id, value,
          CASE WHEN event_id % 64 = 0
            THEN 1717243200000000 + (event_id % 1000) * 1000
            ELSE epoch_us(ts) END AS us
        FROM events)
      SELECT e1.event_id, count(*) AS n_nearby,
        ${dsumSql("e2.value")} AS nearby_value
      FROM k e1 JOIN k e2
        ON e2.event_id != e1.event_id
       AND abs(e1.us - e2.us) <= 60000000
      GROUP BY e1.event_id"""),
    bench = true)

  /** Pairwise Pearson correlation matrix over the lineitem measures in
    * ONE pass — the fused-stats shape ([[graft.ops.Profiling.profile]],
    * Transform's decision pass) applied to second-order statistics: every
    * Sx/Sxx/Sxy accumulates in the same wide aggregate (one scan, one
    * Exchange), the tiny driver-side row unpivots with `stack`. Naive
    * `df.stat.corr` runs one job per pair — 6 scans here, linear in
    * pairs at 100 TB. Determinism: all sums are exact DECIMAL(38,6)
    * (per-value 6-dp rounding is identical on both engines), and the
    * corr formula is evaluated with the identical parenthesization, so
    * even the catastrophic-cancellation bits agree. */
  val qCorr = Q(
    "q_corr_matrix",
    (s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield (cols(i), cols(j))
      def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 6))
      val aggs =
        Seq(count(lit(1)).as("n")) ++
          cols.map(c => sum(dec(col(c))).cast("double").as(s"s_$c")) ++
          cols.map(c =>
            sum(dec(col(c) * col(c))).cast("double").as(s"ss_$c")) ++
          pairs.map { case (a, b) =>
            sum(dec(col(a) * col(b))).cast("double").as(s"sp_${a}_$b") }
      val w = Tables.lineitem(s, d).agg(aggs.head, aggs.tail: _*)
      val stackArgs = pairs.flatMap { case (a, b) =>
        // zero/negative-variance domain guard (cancellation can push an
        // exactly-zero variance a few ulp negative): NULL, not NaN/error
        // — mirrored by the oracle's CASE so both engines agree
        val va = col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")
        val vb = col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")
        Seq(lit(a), lit(b), when(va > 0 && vb > 0, round(
          (col("n") * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b")) /
            (sqrt(va) * sqrt(vb)), 6)))
      }
      w.select(stack((lit(pairs.length) +: stackArgs): _*)
        .as(Seq("col_a", "col_b", "corr")))
    },
    Some {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield (cols(i), cols(j))
      def ds(e: String) = s"CAST(sum(CAST($e AS DECIMAL(38,6))) AS DOUBLE)"
      val stats =
        cols.map(c => s"${ds(c)} AS s_$c") ++
          cols.map(c => s"${ds(s"$c * $c")} AS ss_$c") ++
          pairs.map { case (a, b) => s"${ds(s"$a * $b")} AS sp_${a}_$b" }
      val rows = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
          round(CASE WHEN (n * ss_$a - s_$a * s_$a) > 0
                      AND (n * ss_$b - s_$b * s_$b) > 0
            THEN (n * sp_${a}_$b - s_$a * s_$b)
              / (sqrt(n * ss_$a - s_$a * s_$a)
                 * sqrt(n * ss_$b - s_$b * s_$b)) END, 6) AS corr
          FROM w"""
      }.mkString(" UNION ALL ")
      s"""WITH w AS (SELECT count(*) AS n, ${stats.mkString(", ")}
        FROM lineitem) $rows"""
    })

  /** CUBE grouping sets — all 2^2 aggregation levels in one Expand +
    * one shuffle (the ROLLUP companion, §2.4 extension). */
  val qCube = Q(
    "q_cube_status_priority",
    (s, d) => Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(dsum(col("o_totalprice"), 6).as("total_price"),
        count(lit(1)).as("n_orders")),
    Some(s"""SELECT o_orderstatus, o_orderpriority,
      ${dsumSql("o_totalprice", 6)} AS total_price, count(*) AS n_orders
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"""))

  /** GROUPING SETS — the general form of ROLLUP/CUBE (both are sugar
    * over it): an explicitly chosen level list, still ONE Expand + one
    * shuffle (row count multiplies by the number of sets, not 2^cols —
    * cheaper than CUBE when only some levels matter at 100 TB).
    * GROUPING() flags disambiguate "rolled-up" from a genuine NULL group
    * value, per the SQL standard in both engines. */
  val qGroupingSets = Q(
    "q_grouping_sets",
    (s, d) => Tables.orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"),
        dsum(col("o_totalprice"), 6).as("total_price"),
        count(lit(1)).as("n_orders")),
    Some(s"""SELECT o_orderstatus, o_orderpriority,
      CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
      ${dsumSql("o_totalprice", 6)} AS total_price, count(*) AS n_orders
      FROM orders GROUP BY GROUPING SETS
        ((o_orderstatus, o_orderpriority), (o_orderstatus), ())"""))

  /** PIVOT: order counts and exact-decimal revenue per priority, one
    * column pair per status. Values are enumerated explicitly, so the
    * pivot is a single-pass conditional aggregation (no extra
    * distinct-values job) — same plan as the oracle's CASE form. */
  val qPivot = Q(
    "q_pivot_status_by_priority",
    (s, d) => Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("rev"))
      // coalesce the counts: pivot emits NULL for a listed value with no
      // rows in a group, while count(*) FILTER (the oracle) emits 0
      .select(col("o_orderpriority"),
        coalesce(col("F_n"), lit(0L)).as("f_n"), col("F_rev").as("f_rev"),
        coalesce(col("O_n"), lit(0L)).as("o_n"), col("O_rev").as("o_rev"),
        coalesce(col("P_n"), lit(0L)).as("p_n"), col("P_rev").as("p_rev")),
    Some(s"""SELECT o_orderpriority,
      count(*) FILTER (o_orderstatus = 'F') AS f_n,
      ${dsumSql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS f_rev,
      count(*) FILTER (o_orderstatus = 'O') AS o_n,
      ${dsumSql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS o_rev,
      count(*) FILTER (o_orderstatus = 'P') AS p_n,
      ${dsumSql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS p_rev
      FROM orders GROUP BY o_orderpriority"""))

  /** Set operations (INTERSECT / EXCEPT / UNION ALL — SURVEY §2.9 absent
    * in the reference): customer cohorts by order status. Each leg is a
    * distinct-project (hash aggregate); the set ops hash-shuffle on the
    * full row, which IS the key — no skew, scales linearly. */
  val qSetOps = Q(
    "q_setops_customer_cohorts",
    (s, d) => {
      // each leg cached: three cohorts reuse both legs, and without the
      // persist every reuse is a fresh scan + distinct of orders
      def keys(status: String) = graft.ops.CacheScope.persist(
        Tables.orders(s, d)
          .filter(col("o_orderstatus") === status)
          .select(col("o_custkey")).distinct())
      val f = keys("F")
      val o = keys("O")
      val both = f.intersect(o)
        .agg(count(lit(1)).as("n_customers"))
        .select(lit("f_and_o").as("cohort"), col("n_customers"))
      val fOnly = f.except(o)
        .agg(count(lit(1)).as("n_customers"))
        .select(lit("f_only").as("cohort"), col("n_customers"))
      val either = f.union(o).distinct()
        .agg(count(lit(1)).as("n_customers"))
        .select(lit("f_or_o").as("cohort"), col("n_customers"))
      both.unionByName(fOnly).unionByName(either)
    },
    Some("""WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
      SELECT 'f_and_o' AS cohort,
        (SELECT count(*) FROM (SELECT * FROM f INTERSECT SELECT * FROM o)) AS n_customers
      UNION ALL SELECT 'f_only',
        (SELECT count(*) FROM (SELECT * FROM f EXCEPT SELECT * FROM o))
      UNION ALL SELECT 'f_or_o',
        (SELECT count(*) FROM (SELECT * FROM f UNION SELECT * FROM o))"""))

  /** Ranking-window family over PARTITIONED windows (ntile / cume_dist /
    * percent_rank): quartile of each order's price within its priority
    * class. The window shuffles on the partition key (5 balanced classes
    * here; at scale any reasonable-cardinality key), never a global sort.
    * The ORDER BY carries o_orderkey so every rank function sees a total
    * order — no peer groups, engine-independent results. */
  val qNtile = Q(
    "q_ntile_priority_price",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        ntile(4).over(w).as("price_quartile"),
        round(cume_dist().over(w), 6).as("cume"),
        round(percent_rank().over(w), 6).as("pct_rank"))
    },
    Some("""SELECT o_orderkey, o_orderpriority, o_totalprice,
      ntile(4) OVER w AS price_quartile,
      round(cume_dist() OVER w, 6) AS cume,
      round(percent_rank() OVER w, 6) AS pct_rank
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice NULLS FIRST, o_orderkey)"""))

  /** Scale-correct global quantile bucketing: instead of a global-sort
    * ntile (one reducer sees every row), the three quartile cut points of
    * per-customer spend are computed by an exact percentile aggregate and
    * broadcast back; assignment is then an embarrassingly parallel CASE.
    * This is the 100 TB shape for "which quartile is this customer in". */
  val qQuartileAssign = Q(
    "q_spend_quartile_assign",
    (s, d) => {
      val spend = graft.ops.CacheScope.persist(
        Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(dsum(col("o_totalprice")).as("spend")))
      // distributed disc-percentile cuts: a global percentile_disc
      // aggregate buffers every distinct spend in ONE task
      // (graft.ext.Stats.distDiscPercentiles has the rationale) —
      // identical data values, oracle untouched
      val cuts = graft.ext.Stats.distDiscPercentiles(spend, "spend",
        Seq((1, 4), (2, 4), (3, 4)), Seq("q1", "q2", "q3"))
      spend.crossJoin(broadcast(cuts))
        .select(col("o_custkey"), col("spend"),
          when(col("spend") <= col("q1"), 1)
            .when(col("spend") <= col("q2"), 2)
            .when(col("spend") <= col("q3"), 3)
            .otherwise(4).as("spend_quartile"))
    },
    Some(s"""WITH spend AS (
        SELECT o_custkey, ${dsumSql("o_totalprice")} AS spend
        FROM orders GROUP BY o_custkey),
      cuts AS (
        SELECT CAST(quantile_disc(spend, 0.25) AS DOUBLE) AS q1,
          CAST(quantile_disc(spend, 0.5) AS DOUBLE) AS q2,
          CAST(quantile_disc(spend, 0.75) AS DOUBLE) AS q3
        FROM spend)
      SELECT o_custkey, spend,
        CASE WHEN spend <= q1 THEN 1 WHEN spend <= q2 THEN 2
             WHEN spend <= q3 THEN 3 ELSE 4 END AS spend_quartile
      FROM spend, cuts"""))

  /** Winsorized robust stats: per-status order-value mean with values
    * clipped to the [p05, p95] cuts of their OWN group — the standard
    * outlier-robust companion to the IQR DROP rule (`q_outlier_iqr`
    * removes rows; winsorizing keeps them at the boundary, preserving
    * counts).
    *
    * percentile_disc (a DATA value, no interpolation) keeps the cuts
    * bit-identical across engines; the clip is then pure comparisons on
    * exact doubles. Cuts broadcast back (one row per status), computed
    * by the grouped distributed disc-percentile
    * ([[graft.ext.Stats.distDiscPercentilesBy]]) — no per-group
    * distinct-value buffer at any scale. */
  val qWinsorize = Q(
    "q_winsorized_stats",
    (s, d) => {
      val o = Tables.orders(s, d)
      // grouped distributed disc-percentiles: few groups but unbounded
      // within-group distinct values — the single-task percentile
      // buffer dies exactly here (Stats.distDiscPercentilesBy);
      // identical data values, oracle untouched
      val cuts = graft.ext.Stats.distDiscPercentilesBy(
        o.select(col("o_orderstatus"), col("o_totalprice")),
        "o_totalprice", "o_orderstatus",
        Seq((1, 20), (19, 20)), Seq("lo", "hi"))
      o.join(broadcast(cuts), Seq("o_orderstatus"))
        .groupBy(col("o_orderstatus"))
        .agg(min(col("lo")).as("lo_cut"), min(col("hi")).as("hi_cut"),
          count(lit(1)).as("n_orders"),
          davg(col("o_totalprice"), 6).as("mean_raw"),
          davg(least(greatest(col("o_totalprice"), col("lo")), col("hi")), 6)
            .as("mean_winsorized"))
    },
    Some(s"""WITH cuts AS (
        SELECT o_orderstatus,
          quantile_disc(o_totalprice, 0.05) AS lo,
          quantile_disc(o_totalprice, 0.95) AS hi
        FROM orders GROUP BY 1)
      SELECT o_orderstatus, min(lo) AS lo_cut, min(hi) AS hi_cut,
        count(*) AS n_orders,
        ${davgSql("o_totalprice", 6)} AS mean_raw,
        ${davgSql("least(greatest(o_totalprice, lo), hi)", 6)}
          AS mean_winsorized
      FROM orders JOIN cuts USING (o_orderstatus)
      GROUP BY o_orderstatus"""))

  /** Median absolute deviation per status — the robust spread measure
    * completing the outlier family (IQR drop → `q_outlier_iqr`, clip →
    * `q_winsorized_stats`, spread → MAD). Two percentile_disc
    * aggregates (median, then median of |x − median|), cuts broadcast
    * between them; |x − m| subtracts exact doubles so both engines rank
    * identical values — percentile_disc then picks the same DATA value,
    * no interpolation drift. */
  val qMad = Q(
    "q_mad_by_status",
    (s, d) => {
      val o = Tables.orders(s, d)
      // two grouped distributed-percentile passes (median, then median
      // of |x − m|) — Stats.distDiscPercentilesBy, no per-group
      // distinct-value buffer; identical values, oracle untouched
      val med = graft.ext.Stats.distDiscPercentilesBy(
        o.select(col("o_orderstatus"), col("o_totalprice")),
        "o_totalprice", "o_orderstatus", Seq((1, 2)), Seq("med"))
      val dev = o.join(broadcast(med), Seq("o_orderstatus"))
        .select(col("o_orderstatus"),
          abs(col("o_totalprice") - col("med")).as("adev"))
      val mad = graft.ext.Stats.distDiscPercentilesBy(
        dev, "adev", "o_orderstatus", Seq((1, 2)), Seq("mad"))
      o.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"))
        .join(broadcast(med), Seq("o_orderstatus"))
        .join(broadcast(mad), Seq("o_orderstatus"))
        .select(col("o_orderstatus"), col("med").as("median_price"),
          col("mad"), col("n_orders"))
    },
    Some("""WITH med AS (
        SELECT o_orderstatus,
          quantile_disc(o_totalprice, 0.5) AS med
        FROM orders GROUP BY 1)
      SELECT o_orderstatus, min(med) AS median_price,
        quantile_disc(abs(o_totalprice - med), 0.5) AS mad,
        count(*) AS n_orders
      FROM orders JOIN med USING (o_orderstatus)
      GROUP BY o_orderstatus"""))

  /** Date-spine gap fill + forward fill: daily counts/revenue of 'P'
    * orders with missing days materialized at 0 and the last seen
    * revenue carried forward. The ordered window runs over the SPINE
    * (one row per day — thousands of rows regardless of fact size, the
    * daily aggregate has already shrunk the data), so the
    * single-partition sort is bounded by calendar length, not corpus
    * size. */
  val qGapFill = Q(
    "q_gap_fill_daily",
    (s, d) => {
      val daily = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "P")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("revenue"))
      val spine = daily
        .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
        .select(explode(sequence(col("mn"), col("mx"),
          expr("interval 1 day"))).as("day"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("day")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      // day emitted as a STRING: Spark writes parquet DATE, DuckDB's
      // fetch renders DATE as midnight timestamps — same value, different
      // cell rendering under the driver's hash (the Det timestamp rule
      // applies to DATEs too).
      spine.join(daily, Seq("day"), "left")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          last(col("revenue"), ignoreNulls = true).over(w)
            .as("last_seen_revenue"))
    },
    Some(s"""WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
          ${dsumSql("o_totalprice")} AS revenue
        FROM orders WHERE o_orderstatus = 'P' GROUP BY 1),
      spine AS (
        SELECT CAST(unnest(generate_series(
          (SELECT min(day) FROM daily), (SELECT max(day) FROM daily),
          INTERVAL 1 DAY)) AS DATE) AS day)
      SELECT strftime(s.day, '%Y-%m-%d') AS day,
        coalesce(d.n_orders, 0) AS n_orders,
        last_value(d.revenue IGNORE NULLS) OVER (
          ORDER BY s.day ROWS UNBOUNDED PRECEDING) AS last_seen_revenue
      FROM spine s LEFT JOIN daily d USING (day)"""))

  /** Rolling 7-row moving average of daily event value per type (the
    * time-series smoothing shape). The daily aggregate shrinks the fact
    * table FIRST (one shuffle on (type, day)); the ordered window then
    * runs over days — bounded by calendar length per type, never corpus
    * size. Determinism: the window SUM runs over exact decimals (window
    * frames are summed in different orders by different engines — DuckDB
    * uses a segment tree — so a double window-sum would drift), cast to
    * double only at the end. ROWS 6 PRECEDING = last 7 OBSERVED days,
    * matching on both engines. */
  val qMovingAvg = Q(
    "q_moving_avg_daily",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("rev_dec"),
          count(lit(1)).as("n_events"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-6, 0)
      // day as a STRING — see q_gap_fill_daily's rendering note.
      daily.select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("rev_dec").cast("double").as("day_value"),
        col("n_events"),
        (sum(col("rev_dec")).over(w).cast("double")
          / count(lit(1)).over(w)).as("ma7"))
    },
    Some(s"""WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
          sum(CAST("value" AS DECIMAL(18,2))) AS rev_dec,
          count(*) AS n_events
        FROM events GROUP BY 1, 2)
      SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
        CAST(rev_dec AS DOUBLE) AS day_value,
        n_events,
        CAST(sum(rev_dec) OVER w AS DOUBLE) / count(*) OVER w AS ma7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS 6 PRECEDING)"""))

  /** Z-order curve values ([[graft.sinks.Sinks.zorderValue]]) over
    * (customer, order-day): the multi-dimensional clustering key behind
    * [[graft.sinks.Sinks.writeZOrdered]], verified bit-for-bit — bucket
    * rescale is integer arithmetic (integral divide, never a double
    * rescale) and the interleave is pure shifts, so the oracle replays
    * both exactly. The min/max rescale inputs ride a broadcast 1-row
    * aggregate (the tiny-stats pattern). */
  val qZorder = Q(
    "q_zorder_value",
    (s, d) => {
      import graft.sinks.Sinks
      val ord = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("long").as("day_i"))
      val mm = ord.agg(min(col("o_custkey")).as("mn_c"),
        max(col("o_custkey")).as("mx_c"),
        min(col("day_i")).as("mn_d"), max(col("day_i")).as("mx_d"))
      ord.crossJoin(broadcast(mm))
        .select(col("o_orderkey"),
          Sinks.zBucket(col("o_custkey"), col("mn_c"), col("mx_c"), 8)
            .as("zb_cust"),
          Sinks.zBucket(col("day_i"), col("mn_d"), col("mx_d"), 8)
            .as("zb_day"))
        .select(col("o_orderkey"), col("zb_cust"), col("zb_day"),
          Sinks.zorderValue(Seq(col("zb_cust"), col("zb_day")), 8)
            .as("zvalue"))
    },
    Some {
      val terms = (0 until 8).flatMap(b => Seq(
        s"(((zb_cust >> $b) & 1) << ${2 * b})",
        s"(((zb_day >> $b) & 1) << ${2 * b + 1})")).mkString(" + ")
      s"""WITH o AS (
          SELECT o_orderkey, o_custkey,
            CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
              AS day_i
          FROM orders),
        mm AS (SELECT min(o_custkey) AS mn_c, max(o_custkey) AS mx_c,
          min(day_i) AS mn_d, max(day_i) AS mx_d FROM o),
        b AS (
          SELECT o_orderkey,
            ((o_custkey - mn_c) * 256) // (mx_c - mn_c + 1) AS zb_cust,
            ((day_i - mn_d) * 256) // (mx_d - mn_d + 1) AS zb_day
          FROM o, mm)
        SELECT o_orderkey, zb_cust, zb_day, $terms AS zvalue FROM b"""
    })

  /** Salted skew join ([[graft.ops.SkewJoin]]): half of lineitem is
    * remapped onto ONE hot part key (the synthetic skew), then joined to
    * part through an 8-way salt — the hot key's rows spread across 8
    * tasks instead of one straggler. The oracle states the PLAIN join:
    * salting must cancel out of the result exactly. */
  val qSkewJoin = Q(
    "q_skew_salted_join",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(
        when(col("l_orderkey") % 2 === 0, lit(1L))
          .otherwise(col("l_partkey")).as("k"),
        col("l_orderkey"), col("l_quantity"))
      val p = Tables.part(s, d)
        .select(col("p_partkey").as("k"), col("p_brand"))
      graft.ops.SkewJoin.saltedJoin(li, p, Seq("k"),
          saltBuckets = 8, leftSaltCols = Seq("l_orderkey"))
        .groupBy(col("p_brand"))
        .agg(dsum(col("l_quantity")).as("total_qty"),
          count(lit(1)).as("n_lines"))
    },
    Some(s"""SELECT p_brand, ${dsumSql("l_quantity")} AS total_qty,
      count(*) AS n_lines
      FROM (SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1
                        ELSE l_partkey END AS k,
              l_quantity FROM lineitem) li
      JOIN part ON p_partkey = li.k
      GROUP BY p_brand"""))

  /** Per-group robust outlier detection (Tukey IQR fences) over the
    * event stream: per-type quartiles via ONE grouped exact-percentile
    * aggregate (groups = event types, a handful of rows — broadcast
    * back), then a stateless fence filter. The 100 TB path swaps
    * percentile_disc for approx_percentile (mergeable sketches, same as
    * [[graft.ops.Profiling]]'s approx variant); percentile_disc keeps
    * the oracle exact — a DISC cut IS a data value, so no interpolation
    * arithmetic can diverge across engines. Fences are the same IEEE
    * double ops on identical inputs on both sides. */
  val qOutlierIqr = Q(
    "q_outlier_iqr",
    (s, d) => {
      val ev = Tables.events(s, d)
      // grouped distributed quartiles over the continuous value column
      // (few event types x unbounded distinct doubles — the single-task
      // percentile buffer case; Stats.distDiscPercentilesBy). Same data
      // values, oracle untouched.
      val cuts = graft.ext.Stats.distDiscPercentilesBy(
        ev.select(col("event_type"), col("value")),
        "value", "event_type", Seq((1, 4), (3, 4)), Seq("q1", "q3"))
      val lo = col("q1") - lit(1.5) * (col("q3") - col("q1"))
      val hi = col("q3") + lit(1.5) * (col("q3") - col("q1"))
      ev.join(broadcast(cuts), Seq("event_type"))
        .filter(col("value") < lo || col("value") > hi)
        .select(col("event_id"), col("event_type"), col("value"),
          round(lo, 6).as("lo_fence"), round(hi, 6).as("hi_fence"))
    },
    Some("""WITH cuts AS (
        SELECT event_type,
          CAST(quantile_disc(value, 0.25) AS DOUBLE) AS q1,
          CAST(quantile_disc(value, 0.75) AS DOUBLE) AS q3
        FROM events GROUP BY event_type)
      SELECT event_id, event_type, value,
        round(q1 - 1.5 * (q3 - q1), 6) AS lo_fence,
        round(q3 + 1.5 * (q3 - q1), 6) AS hi_fence
      FROM events JOIN cuts USING (event_type)
      WHERE value < q1 - 1.5 * (q3 - q1) OR value > q3 + 1.5 * (q3 - q1)"""))

  /** SCD2 / change-data-capture compaction: per user, collapse runs of
    * consecutive same-type events and emit one validity interval
    * [valid_from, valid_to) per regime — the dimension-history build
    * step. Both windows partition by the natural key (user_id), so
    * per-task state is one user's history — never a global sort.
    * (ts, event_id) is a total order, so lag/lead are deterministic
    * under equal timestamps; timestamps emit as strings (Det rule),
    * and the open interval's valid_to stays NULL. */
  val qScd2 = Q(
    "q_scd2_intervals",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val changes = Tables.events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"))
      changes
        .withColumn("next_ts", lead(col("ts"), 1).over(byUser))
        .select(col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("next_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_to"))
    },
    Some("""WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts ASC, event_id ASC) AS prev_type
        FROM events),
      changes AS (
        SELECT user_id, event_type, ts, event_id FROM ordered
        WHERE prev_type IS NULL OR prev_type <> event_type)
      SELECT user_id, event_type,
        strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        strftime(lead(ts) OVER (PARTITION BY user_id
          ORDER BY ts ASC, event_id ASC), '%Y-%m-%d %H:%M:%S') AS valid_to
      FROM changes"""))

  /** Point-in-time (temporal) lookup against the SCD2 dimension built by
    * `q_scd2_intervals`: each purchase joins the regime interval active
    * AT its timestamp — `key equal AND valid_from <= ts < valid_to`, the
    * textbook SCD2 fact-to-dimension join. The equi key (user_id) keeps
    * it a hash/sort-merge join (never a cartesian); the interval
    * predicate multiplies each fact by that USER'S version count before
    * filtering — bounded by history depth per key, not corpus size.
    * Exactly one interval matches per purchase (intervals partition each
    * user's timeline; an empty [t, t) interval from equal-timestamp
    * changes can never match). */
  val qScd2Lookup = Q(
    "q_scd2_lookup",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      // the dimension is built from NON-purchase activity (building it
      // from all events would be degenerate: every purchase would sit in
      // the regime it itself opens)
      val changes = Tables.events(s, d)
        .filter(col("event_type") =!= "purchase")
        .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"))
      val intervals = changes
        .withColumn("next_ts", lead(col("ts"), 1).over(byUser))
        .select(col("user_id").as("i_user"), col("event_type").as("regime"),
          col("ts").as("valid_from"), col("next_ts").as("valid_to"))
      Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
        .join(intervals,
          col("user_id") === col("i_user") &&
            col("ts") >= col("valid_from") &&
            (col("valid_to").isNull || col("ts") < col("valid_to")))
        .groupBy(col("regime"))
        .agg(count(lit(1)).as("n_purchases"),
          dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
    },
    Some(s"""WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts ASC, event_id ASC) AS prev_type
        FROM events WHERE event_type <> 'purchase'),
      changes AS (
        SELECT user_id, event_type, ts, event_id FROM ordered
        WHERE prev_type IS NULL OR prev_type <> event_type),
      iv AS (
        SELECT user_id AS i_user, event_type AS regime, ts AS valid_from,
          lead(ts) OVER (PARTITION BY user_id
            ORDER BY ts ASC, event_id ASC) AS valid_to
        FROM changes),
      p AS (
        SELECT user_id, ts, value FROM events
        WHERE event_type = 'purchase')
      SELECT regime, count(*) AS n_purchases,
        ${dsumSql("value")} AS total_value,
        count(DISTINCT user_id) AS n_users
      FROM p JOIN iv ON p.user_id = iv.i_user
        AND p.ts >= iv.valid_from
        AND (iv.valid_to IS NULL OR p.ts < iv.valid_to)
      GROUP BY regime"""))

  /** Fused data-quality / constraint report: every row-local check plus
    * the dimension referential check in ONE scan per fact table — the
    * naive form (one job per constraint) is linear in constraints at
    * 100 TB. Row-local checks fuse into a single conditional aggregate;
    * the orphan check rides the same scan via a broadcast dimension
    * join; the duplicate-PK check shares the aggregate (count −
    * distinct). Fact↔fact referential checks would need a shuffle join
    * and deliberately stay out of the fused report. The base testdata is
    * clean, so violations are salted in deterministically (key-derived
    * corrupt copies — one corrupted field per copy, replayed verbatim by
    * the oracle) to make every counter load-bearing. */
  val qDqReport = Q(
    "q_dq_report",
    (s, d) => {
      val baseO = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val ordersS = baseO
        .unionAll(baseO.filter(col("o_orderkey") % 997 === 0)
          .withColumn("o_totalprice", -col("o_totalprice")))
        .unionAll(baseO.filter(col("o_orderkey") % 991 === 0)
          .withColumn("o_custkey", lit(null).cast("long")))
        .unionAll(baseO.filter(col("o_orderkey") % 983 === 0)
          .withColumn("o_custkey", col("o_custkey") + lit(1000000000L)))
      val baseL = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"))
      val lineS = baseL
        .unionAll(baseL.filter(col("l_orderkey") % 997 === 0)
          .withColumn("l_quantity", -col("l_quantity")))
        .unionAll(baseL.filter(col("l_orderkey") % 991 === 0)
          .withColumn("l_discount", col("l_discount") + lit(2.0)))
      val custKeys = Tables.customer(s, d).select(col("c_custkey"))
      val oAgg = ordersS
        .join(broadcast(custKeys),
          ordersS("o_custkey") === custKeys("c_custkey"), "left")
        .agg(
          count(when(col("o_custkey").isNull, 1)).as("o_null_custkey"),
          count(when(col("o_totalprice") <= 0, 1)).as("o_nonpos_price"),
          count(when(col("o_custkey").isNotNull &&
            col("c_custkey").isNull, 1)).as("o_orphan_custkey"),
          (count(lit(1)) - countDistinct(col("o_orderkey")))
            .as("o_duplicate_pk"))
      val lAgg = lineS.agg(
        count(when(col("l_quantity") <= 0, 1)).as("l_nonpos_qty"),
        count(when(col("l_discount") < 0 || col("l_discount") > 1, 1))
          .as("l_discount_range"))
      oAgg.crossJoin(lAgg).selectExpr(
        """stack(6,
          'orders_null_custkey', o_null_custkey,
          'orders_nonpositive_totalprice', o_nonpos_price,
          'orders_orphan_custkey', o_orphan_custkey,
          'orders_duplicate_orderkey', o_duplicate_pk,
          'lineitem_nonpositive_quantity', l_nonpos_qty,
          'lineitem_discount_out_of_range', l_discount_range)
          AS (check_name, violations)""")
    },
    Some("""WITH orders_s AS (
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        UNION ALL SELECT o_orderkey, o_custkey, -o_totalprice
          FROM orders WHERE o_orderkey % 997 = 0
        UNION ALL SELECT o_orderkey, CAST(NULL AS BIGINT), o_totalprice
          FROM orders WHERE o_orderkey % 991 = 0
        UNION ALL SELECT o_orderkey, o_custkey + 1000000000, o_totalprice
          FROM orders WHERE o_orderkey % 983 = 0),
      line_s AS (
        SELECT l_orderkey, l_quantity, l_discount FROM lineitem
        UNION ALL SELECT l_orderkey, -l_quantity, l_discount
          FROM lineitem WHERE l_orderkey % 997 = 0
        UNION ALL SELECT l_orderkey, l_quantity, l_discount + 2.0
          FROM lineitem WHERE l_orderkey % 991 = 0),
      o AS (
        SELECT
          count(*) FILTER (WHERE o_custkey IS NULL) AS o_null_custkey,
          count(*) FILTER (WHERE o_totalprice <= 0) AS o_nonpos_price,
          count(*) FILTER (WHERE o_custkey IS NOT NULL
            AND c_custkey IS NULL) AS o_orphan_custkey,
          count(*) - count(DISTINCT o_orderkey) AS o_duplicate_pk
        FROM orders_s LEFT JOIN customer ON o_custkey = c_custkey),
      l AS (
        SELECT
          count(*) FILTER (WHERE l_quantity <= 0) AS l_nonpos_qty,
          count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
            AS l_discount_range
        FROM line_s)
      SELECT 'orders_null_custkey' AS check_name,
        o_null_custkey AS violations FROM o
      UNION ALL SELECT 'orders_nonpositive_totalprice', o_nonpos_price FROM o
      UNION ALL SELECT 'orders_orphan_custkey', o_orphan_custkey FROM o
      UNION ALL SELECT 'orders_duplicate_orderkey', o_duplicate_pk FROM o
      UNION ALL SELECT 'lineitem_nonpositive_quantity', l_nonpos_qty FROM l
      UNION ALL SELECT 'lineitem_discount_out_of_range', l_discount_range
        FROM l"""))

  /** UNPIVOT/melt — the wide→long reshape (inverse of `q_pivot_*`):
    * per-status metrics fold into (status, metric, value) rows. Spark's
    * native `unpivot` is a zero-shuffle Expand over the already-grouped
    * frame; values share one DOUBLE type (the unpivot contract). The
    * oracle spells the same reshape as a UNION ALL ladder. */
  val qUnpivot = Q(
    "q_unpivot_metrics",
    (s, d) => Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).cast("double").as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"),
        round(davg(col("o_totalprice")), 6).as("avg_price"))
      .unpivot(Array(col("o_orderstatus")),
        Array(col("n_orders"), col("total_price"), col("avg_price")),
        "metric", "value"),
    Some(s"""WITH a AS (
        SELECT o_orderstatus, CAST(count(*) AS DOUBLE) AS n_orders,
          ${dsumSql("o_totalprice")} AS total_price,
          round(${davgSql("o_totalprice")}, 6) AS avg_price
        FROM orders GROUP BY 1)
      SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM a
      UNION ALL
      SELECT o_orderstatus, 'total_price', total_price FROM a
      UNION ALL
      SELECT o_orderstatus, 'avg_price', avg_price FROM a"""))

  /** Correlated scalar subquery (TPC-H Q17 shape): lineitems whose
    * quantity sits under 20% of their PART's average quantity — "small
    * order" revenue. Catalyst de-correlates the subquery into a
    * per-part aggregate joined back on the key (the only scalable
    * plan: per-row subquery execution would be O(rows) scans); the
    * oracle states the same de-correlated form. The avg threshold is
    * 6-dp-pinned before the comparison so borderline rows resolve
    * identically on both engines. */
  /** TPC-H Q21-shaped "waiting supplier" report: suppliers whose line
    * shipped late (>60 days after order date) on finished multi-supplier
    * orders where NO other supplier was late — the sole cause of the
    * wait. Exercises the semi-join + anti-join composition with an
    * extra non-equi residual on the anti side.
    *
    * Plan shape: both the EXISTS and NOT-EXISTS subqueries become hash
    * semi/anti joins keyed on `l_orderkey` — the same shuffle key as the
    * base order join, so the exchanges line up; the 100-row supplier
    * dimension broadcasts. Top-10 is tie-broken on name for
    * determinism. */
  val qWaitingSupplier = Q(
    "q_waiting_supplier",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
      val late = col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 60 DAYS")
      val base = li
        .join(Tables.orders(s, d)
          .filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(late)
      val others = li.select(col("l_orderkey").as("l2_orderkey"),
        col("l_suppkey").as("l2_suppkey"))
      val lateOthers = li.select(col("l_orderkey").as("l3_orderkey"),
        col("l_suppkey").as("l3_suppkey"), col("l_shipdate").as("l3_shipdate"))
      base
        .join(others,
          col("l2_orderkey") === col("l_orderkey") &&
            col("l2_suppkey") =!= col("l_suppkey"), "left_semi")
        .join(lateOthers,
          col("l3_orderkey") === col("l_orderkey") &&
            col("l3_suppkey") =!= col("l_suppkey") &&
            col("l3_shipdate") >
              col("o_orderdate") + expr("INTERVAL 60 DAYS"), "left_anti")
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
          col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(10)
    },
    Some("""SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
      FROM supplier s
      JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      JOIN orders o ON o.o_orderkey = l1.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      GROUP BY s.s_name
      ORDER BY numwait DESC, s.s_name
      LIMIT 10"""))

  val qCorrelatedSub = Q(
    "q_small_qty_revenue",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val thresh = li.groupBy(col("l_partkey").as("t_partkey"))
        .agg(round(lit(0.2) * davg(col("l_quantity")), 6).as("qty_cap"))
      li.join(thresh, col("l_partkey") === col("t_partkey"))
        .filter(col("l_quantity") < col("qty_cap"))
        .agg(dsum(col("l_extendedprice")).as("small_qty_revenue"),
          count(lit(1)).as("n_small"))
    },
    Some(s"""WITH t AS (
        SELECT l_partkey AS t_partkey,
          round(CAST(0.2 AS DOUBLE) * (${davgSql("l_quantity")}), 6) AS qty_cap
        FROM lineitem GROUP BY 1)
      SELECT ${dsumSql("l_extendedprice")} AS small_qty_revenue,
        count(*) AS n_small
      FROM lineitem JOIN t ON l_partkey = t_partkey
      WHERE l_quantity < qty_cap"""))

  /** Scan-prune estimator for the z-order layout: how many files a
    * 2-D range predicate touches under key-ordered files (the default
    * "insertion order" layout) vs z-prefix files (what
    * [[graft.sinks.Sinks.writeZOrdered]]'s range-repartition
    * produces — a file per z-curve block). Each simulated file gets a
    * per-file min/max manifest (exactly the parquet footer stats the
    * engine's file skipping reads), and a file is scanned iff its
    * [min,max] box overlaps the predicate box on BOTH dimensions.
    * Key-ordered files span the full range of both value dimensions, so
    * nothing prunes; z-prefix files cover small hyper-rectangles, so
    * most files drop. This is the manifest-level number that justifies
    * paying the zorder shuffle at 100 TB.
    *
    * File assignment is STATELESS (top-5 z-bits / 5-bit key bucket —
    * no global row_number), all arithmetic integer, so both engines
    * agree bit-for-bit. Two grouped aggregates: per-file stats (≤ 64
    * rows out), then the 2-row per-layout report. */
  val qScanPrune = Q(
    "q_scan_prune_zorder",
    (s, d) => {
      import graft.sinks.Sinks
      val ord = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("long").as("day_i"))
      val mm = ord.agg(min(col("o_custkey")).as("mn_c"),
        max(col("o_custkey")).as("mx_c"),
        min(col("day_i")).as("mn_d"), max(col("day_i")).as("mx_d"),
        min(col("o_orderkey")).as("mn_k"), max(col("o_orderkey")).as("mx_k"))
      val files = ord.crossJoin(broadcast(mm))
        .select(col("o_custkey"), col("day_i"),
          Sinks.zBucket(col("o_custkey"), col("mn_c"), col("mx_c"), 8)
            .as("zb_cust"),
          Sinks.zBucket(col("day_i"), col("mn_d"), col("mx_d"), 8)
            .as("zb_day"),
          Sinks.zBucket(col("o_orderkey"), col("mn_k"), col("mx_k"), 5)
            .as("file_nat"))
        .withColumn("file_z", shiftright(
          Sinks.zorderValue(Seq(col("zb_cust"), col("zb_day")), 8), 11))
        .select(expr(
          "stack(2, 'natural', file_nat, 'zorder', file_z)")
          .as(Seq("layout", "file_id")), col("o_custkey"), col("day_i"))
      val perFile = files.groupBy(col("layout"), col("file_id"))
        .agg(min(col("o_custkey")).as("f_mn_c"),
          max(col("o_custkey")).as("f_mx_c"),
          min(col("day_i")).as("f_mn_d"), max(col("day_i")).as("f_mx_d"),
          count(lit(1)).as("n"))
      val box = mm.selectExpr(
        "mn_c + ((mx_c - mn_c) * 3) div 8 AS lo_c",
        "mn_c + ((mx_c - mn_c) * 4) div 8 AS hi_c",
        "mn_d + ((mx_d - mn_d) * 3) div 8 AS lo_d",
        "mn_d + ((mx_d - mn_d) * 4) div 8 AS hi_d")
      val hit = col("f_mn_c") <= col("hi_c") && col("f_mx_c") >= col("lo_c") &&
        col("f_mn_d") <= col("hi_d") && col("f_mx_d") >= col("lo_d")
      perFile.crossJoin(broadcast(box))
        .groupBy(col("layout"))
        .agg(count(lit(1)).as("n_files"),
          sum(hit.cast("long")).as("n_files_scanned"),
          sum(when(hit, col("n")).otherwise(lit(0L))).as("n_rows_scanned"))
    },
    Some {
      val terms = (0 until 8).flatMap(b => Seq(
        s"(((zb_cust >> $b) & 1) << ${2 * b})",
        s"(((zb_day >> $b) & 1) << ${2 * b + 1})")).mkString(" + ")
      s"""WITH o AS (
          SELECT o_orderkey, o_custkey,
            CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
              AS day_i
          FROM orders),
        mm AS (SELECT min(o_custkey) AS mn_c, max(o_custkey) AS mx_c,
          min(day_i) AS mn_d, max(day_i) AS mx_d,
          min(o_orderkey) AS mn_k, max(o_orderkey) AS mx_k FROM o),
        b AS (
          SELECT o_custkey, day_i,
            ((o_custkey - mn_c) * 256) // (mx_c - mn_c + 1) AS zb_cust,
            ((day_i - mn_d) * 256) // (mx_d - mn_d + 1) AS zb_day,
            ((o_orderkey - mn_k) * 32) // (mx_k - mn_k + 1) AS file_nat
          FROM o, mm),
        u AS (
          SELECT 'natural' AS layout, file_nat AS file_id, o_custkey, day_i
          FROM b
          UNION ALL
          SELECT 'zorder', ($terms) >> 11, o_custkey, day_i FROM b),
        g AS (
          SELECT layout, file_id,
            min(o_custkey) AS f_mn_c, max(o_custkey) AS f_mx_c,
            min(day_i) AS f_mn_d, max(day_i) AS f_mx_d, count(*) AS n
          FROM u GROUP BY 1, 2),
        box AS (
          SELECT mn_c + ((mx_c - mn_c) * 3) // 8 AS lo_c,
            mn_c + ((mx_c - mn_c) * 4) // 8 AS hi_c,
            mn_d + ((mx_d - mn_d) * 3) // 8 AS lo_d,
            mn_d + ((mx_d - mn_d) * 4) // 8 AS hi_d
          FROM mm)
        SELECT layout, count(*) AS n_files,
          CAST(sum(CASE WHEN f_mn_c <= hi_c AND f_mx_c >= lo_c
            AND f_mn_d <= hi_d AND f_mx_d >= lo_d THEN 1 ELSE 0 END)
            AS BIGINT) AS n_files_scanned,
          CAST(sum(CASE WHEN f_mn_c <= hi_c AND f_mx_c >= lo_c
            AND f_mn_d <= hi_d AND f_mx_d >= lo_d THEN n ELSE 0 END)
            AS BIGINT) AS n_rows_scanned
        FROM g, box GROUP BY layout"""
    })

  /** CDC merge ([[graft.ops.Cdc.applyChanges]]): apply an ordered
    * change log (upserts, deletes, new keys) onto the orders snapshot —
    * the lakehouse `MERGE INTO` shape. The log is derived
    * deterministically from the snapshot so the oracle replays it
    * verbatim: every 5th key gets a seq-1 status/price update, keys
    * ≡3 (mod 7) a seq-2 delete (keys like 10 carry BOTH, so the
    * seq-ordered election is load-bearing), and every 11th key an
    * insert under a fresh (negated) key. Latest-wins is one hash
    * aggregate on `max(struct(seq, …))` — windowless, map-side
    * partials, no per-key reducer funnel; delete winners drop out. */
  val qCdcApply = Q(
    "q_cdc_apply",
    (s, d) => {
      val o = Tables.orders(s, d)
      val base = o.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))
      val upd = o.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), lit(1L).as("seq"), lit("U").as("op"),
          lit("U1").as("o_orderstatus"),
          (col("o_totalprice") + lit(100.0)).as("o_totalprice"))
      // delete payloads are placeholders (struct comparison is total);
      // they never reach the output
      val del = o.filter(col("o_orderkey") % 7 === 3)
        .select(col("o_orderkey"), lit(2L).as("seq"), lit("D").as("op"),
          lit("").as("o_orderstatus"), lit(0.0).as("o_totalprice"))
      val ins = o.filter(col("o_orderkey") % 11 === 0)
        .select((-col("o_orderkey")).as("o_orderkey"), lit(2L).as("seq"),
          lit("U").as("op"), lit("NEW").as("o_orderstatus"),
          col("o_totalprice"))
      graft.ops.Cdc.applyChanges(
        base, upd.unionByName(del).unionByName(ins),
        keyCols = Seq("o_orderkey"), seqCol = "seq", opCol = "op",
        payloadCols = Seq("o_orderstatus", "o_totalprice"))
    },
    Some("""WITH log AS (
        SELECT o_orderkey AS k, 0 AS seq, 'U' AS op,
          o_orderstatus AS st, o_totalprice AS pr
        FROM orders
        UNION ALL
        SELECT o_orderkey, 1, 'U', 'U1', o_totalprice + 100.0
        FROM orders WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT o_orderkey, 2, 'D', '', 0.0
        FROM orders WHERE o_orderkey % 7 = 3
        UNION ALL
        SELECT -o_orderkey, 2, 'U', 'NEW', o_totalprice
        FROM orders WHERE o_orderkey % 11 = 0),
      w AS (
        SELECT k,
          max(struct_pack(seq := seq, op := op, st := st, pr := pr)) AS m
        FROM log GROUP BY k)
      SELECT k AS o_orderkey, (m).st AS o_orderstatus,
        (m).pr AS o_totalprice
      FROM w WHERE (m).op <> 'D'"""))

  /** CDC apply as a STRUCTURED STREAM
    * ([[graft.streaming.StreamPipeline.cdcApplyAvailableNow]]): the
    * change-log fixture of `q_cdc_apply` arrives as a stream; stateful
    * latest-per-key `max(struct(seq, …))` materializes the snapshot,
    * delete winners drop after the aggregate. Same oracle SQL as the
    * batch form — streamed ≡ batch hash-exactly. */
  val qStreamCdcApply = Q(
    "q_stream_cdc_apply",
    (s, d) => graft.streaming.StreamPipeline.cdcApplyAvailableNow(s, d),
    qCdcApply.oracle)

  def all: Seq[Q] = Seq(
    qStreamCdcApply,
    q1Pricing, q3TopOrders, q5RegionRevenue, qTopkSort, qWindowRank,
    qGroupTopK,
    qAntiJoin, qSemiJoin, qBrandVolume, qRollup, qEventsHourly,
    qEventsHourlyStream, qStreamHllUsers, qStreamCmsCounters,
    qStreamEnrichSegment, qStreamQuantiles, qStreamSliding,
    qStreamAttribution,
    qAttributionLinear, qJsonProps,
    qSessions, qMarkov, qStreamMarkov, qBurst, qDecayedClv,
    qAbTest, qCuped, qChi2, qKaplanMeier,
    qAsof, qAsofNative, qAsofForward, qAsofTolerance, qAsofPit, qFunnel,
    qFunnel3Step, qNewVsReturning, qCohort, qBasketLift, qBandJoin, qBandJoinSkewed, qCorr, qCube,
    qGroupingSets,
    qPivot, qSetOps, qNtile, qQuartileAssign, qWinsorize, qMad,
    qGapFill, qMovingAvg, qZorder,
    qSkewJoin, qOutlierIqr, qScd2, qScd2Lookup, qDqReport, qCdcApply,
    qScanPrune, qUnpivot, qCorrelatedSub, qWaitingSupplier)
}
