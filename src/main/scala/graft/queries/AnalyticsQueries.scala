package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.Q._
import graft.streaming.StreamingMerge

/** Warehouse-side analytics over the replicated streams (SURVEY.md §2.5:
  * the reference delegates these to the destination warehouse; here Spark
  * SQL *is* the warehouse). TPC-H-shaped headliners double as the bench
  * suite: scan-heavy aggregation (q1), broadcast-join + top-k (q3), a
  * six-way join (q5), window analytics, and streaming-style
  * sessionization / windowed aggregation expressed over the event stream.
  *
  * Scale notes: joins below follow the dimension->broadcast /
  * fact->shuffle pattern; aggregates are partial (map-side combine) by
  * construction; all sums use exact decimal so AQE can re-partition
  * without changing results.
  */
object AnalyticsQueries {

  val defs: Map[String, QueryDef] = Map(

    "q1_pricing_summary" -> QueryDef(
      (s, d) => table(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsumExpr(dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
            .as("sum_disc_price"),
          dsumExpr(dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))) *
            (lit(1).cast("decimal(18,2)") + dec(col("l_tax"))))
            .as("sum_charge"),
          (sum(dec(col("l_quantity"))).cast("double") /
            count(lit(1))).as("avg_qty"),
          (sum(dec(col("l_extendedprice"))).cast("double") /
            count(lit(1))).as("avg_price"),
          (sum(dec(col("l_discount"))).cast("double") /
            count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_base_price,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             |    AS sum_disc_price,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |    (1 - CAST(l_discount AS DECIMAL(18,2))) *
             |    (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)
             |    AS sum_charge,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |    / count(*) AS avg_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             |    / count(*) AS avg_price,
             |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             |    / count(*) AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    "q3_shipping_priority" -> QueryDef(
      (s, d) => {
        val cust = table(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val ord = table(s, d, "orders")
          .filter(col("o_orderdate") < lit("1995-03-15"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        val li = table(s, d, "lineitem")
          .filter(col("l_shipdate") > lit("1995-03-15"))
          .select(col("l_orderkey"),
            (dec(col("l_extendedprice")) *
              (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
              .as("rev"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
          .agg(sum(col("rev")).as("rev_dec"))
          .select(col("l_orderkey"),
            col("rev_dec").cast("double").as("revenue"), col("o_orderdate"))
          .orderBy(col("rev_dec").desc, col("l_orderkey").asc)
          .limit(10)
          .select(col("l_orderkey"), col("revenue"), col("o_orderdate"))
      },
      Some("""SELECT l_orderkey,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             |    AS revenue,
             |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
             |FROM customer, orders, lineitem
             |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
             |  AND l_orderkey = o_orderkey
             |  AND o_orderdate < '1995-03-15' AND l_shipdate > '1995-03-15'
             |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
             |ORDER BY sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |  (1 - CAST(l_discount AS DECIMAL(18,2)))) DESC, l_orderkey
             |LIMIT 10""".stripMargin)),

    "q5_local_suppliers" -> QueryDef(
      (s, d) => {
        val nation = table(s, d, "nation")
        val region = table(s, d, "region")
          .filter(col("r_name") === "ASIA")
        val geo = broadcast(nation
          .join(region, col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name")))
        val supp = table(s, d, "supplier")
          .join(geo, col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
        val cust = table(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val ord = table(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01"))
          .select(col("o_orderkey"), col("o_custkey"))
        val li = table(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            (dec(col("l_extendedprice")) *
              (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
              .as("rev"))
        li.join(supp, col("l_suppkey") === col("s_suppkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(col("rev")).cast("double").as("revenue"))
      },
      Some("""SELECT n_name,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             |    AS revenue
             |FROM customer, orders, lineitem, supplier, nation, region
             |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
             |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             |  AND r_name = 'ASIA' AND o_orderdate >= '1996-01-01'
             |  AND o_orderdate < '1997-01-01'
             |GROUP BY n_name""".stripMargin)),

    "skew_salted_join" -> QueryDef(
      (s, d) => {
        // deterministic salting spreads hot supplier keys over 8 salt
        // partitions; result is provably identical to the plain join
        val li = table(s, d, "lineitem").select(col("l_suppkey").as("k"),
          col("l_orderkey"), dec(col("l_extendedprice")).as("price"))
        val supp = table(s, d, "supplier").select(
          col("s_suppkey").as("k"), col("s_name"))
        graft.operators.Skew.saltedJoin(li, supp, "k", "l_orderkey", 8)
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("price")).cast("double").as("total_price"))
      },
      Some("""SELECT s_name, count(*) AS n_items,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total_price
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY s_name""".stripMargin)),

    "top_n_per_group" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        table(s, d, "orders")
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("o_orderpriority"), col("rk"), col("o_orderkey"),
            col("o_totalprice"))
      },
      Some("""SELECT o_orderpriority, rk, o_orderkey, o_totalprice
             |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
             |    ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders)
             |WHERE rk <= 3""".stripMargin)),

    "running_total_window" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, d)
          .select(col("user_id"), col("event_id"),
            sum(dec(col("value"))).over(w).cast("double")
              .as("running_value"))
      },
      Some("""SELECT user_id, event_id,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
             |    PARTITION BY user_id ORDER BY event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS DOUBLE) AS running_value
             |FROM events""".stripMargin)),

    // RANGE-frame sliding window: per event, activity in the trailing
    // hour BY EVENT TIME (not row count) — the rate-limit / burst-detect
    // shape. RANGE peers make timestamp ties deterministic without a
    // tiebreaker; exact decimal sum, one hash exchange on user_id.
    "sliding_window_range" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(unix_micros(col("ts")))
          .rangeBetween(-3600L * 1000000L, 0L)
        events(s, d).select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_1h"),
          sum(dec(col("value"))).over(w).cast("double").as("sum_1h"))
      },
      Some("""SELECT user_id, event_id,
             |  count(*) OVER w AS n_1h,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
             |    AS sum_1h
             |FROM (SELECT user_id, event_id, value, epoch_us(ts) AS tsu
             |      FROM events)
             |WINDOW w AS (PARTITION BY user_id ORDER BY tsu
             |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"""
        .stripMargin)),

    "stream_window_agg" -> QueryDef(
      (s, d) => StreamingMerge.windowedCounts(
          events(s, d), "ts", "event_type", "1 hour", "1 hour")
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"), col("event_type"), col("n"),
          dec(col("total_value")).cast("string").as("total_value_str")),
      // batch shape of the streaming windowed aggregate: tumbling 1h
      Some("""SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
             |    '%Y-%m-%d %H:%M:%S') AS window_start,
             |  event_type, count(*) AS n,
             |  CAST(CAST(sum(value) AS DECIMAL(18,2)) AS VARCHAR)
             |    AS total_value_str
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // CUBE over (event_type, day): all four grouping sets in one pass
    // (Catalyst's Expand), decimal-exact value sums — completes the
    // grouping-sets row of the relational checklist next to rollup
    // (corpus_token_rollup)
    "events_cube" -> QueryDef(
      (s, d) => events(s, d)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .cube(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value")),
      Some("""SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             |  count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total_value
             |FROM events
             |GROUP BY CUBE (event_type, strftime(ts, '%Y-%m-%d'))"""
        .stripMargin)),

    // PIVOT: per-user event-type counts as columns — the wide-report
    // shape (Spark .pivot compiles to one aggregate with a known
    // column set; never a per-column scan)
    "events_pivot" -> QueryDef(
      (s, d) => events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "view", "signup", "purchase", "error"))
        .agg(count(lit(1)))
        .na.fill(0L),
      Some("""SELECT user_id,
             |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
             |    AS click,
             |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
             |    AS view,
             |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT)
             |    AS signup,
             |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             |    AS purchase,
             |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
             |    AS error
             |FROM events GROUP BY user_id""".stripMargin)),

    // Markov transition matrix over per-user event sequences: the
    // "user journey" report. lead() runs per user (many tiny groups —
    // the regime where a window is the scale-correct tool); transition
    // probabilities are fixed-point integers (n*1e6 div row_total), so
    // the matrix is hash-exact cross-engine
    "event_transitions" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"),
          col("event_id"))
        val counts = events(s, d)
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"),
            col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        counts
          .withColumn("row_total",
            sum(col("n")).over(Window.partitionBy(col("from_type"))))
          .select(col("from_type"), col("to_type"), col("n"),
            expr("(n * 1000000) div row_total").as("p_q"))
      },
      Some("""WITH nx AS (SELECT user_id, event_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS next_type
             |  FROM events),
             |c AS (SELECT event_type AS from_type, next_type AS to_type,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM nx WHERE next_type IS NOT NULL GROUP BY 1, 2)
             |SELECT from_type, to_type, n,
             |  CAST((n * 1000000) // CAST(sum(n) OVER (
             |    PARTITION BY from_type) AS BIGINT) AS BIGINT) AS p_q
             |FROM c""".stripMargin)),

    // 3-sigma metric anomalies with NO floating point anywhere: values
    // quantize to 2-decimal integers, and |v - mean| > 3*sigma is
    // compared in its cross-multiplied integer form
    // (n*v - S)^2 > 9*(n*S2 - S^2) — exact at any partitioning, exact
    // across engines. Per-type stats broadcast back onto the scan.
    // Every moment and every product is computed in decimal(38,0)
    // (Spark) / HUGEINT (oracle) BEFORE any multiplication: with
    // S = Σ of 100x-quantized values, S·S wraps a 64-bit long at only
    // ~1M rows of value~1e3, which would silently invert the
    // comparison — so the widening has to happen on the operands, not
    // on the finished product.
    "metric_anomalies" -> QueryDef(
      (s, d) => {
        val dec = "decimal(38,0)"
        val e = events(s, d).select(col("event_id"), col("event_type"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("v"))
        val stats = e.groupBy(col("event_type"))
          .agg(count(lit(1)).cast(dec).as("n"),
            sum(col("v").cast(dec)).as("s"),
            sum(col("v").cast(dec) * col("v")).as("s2"))
        val diff = col("n") * col("v").cast(dec) - col("s")
        e.join(broadcast(stats), "event_type")
          .filter(diff * diff >
            lit(9).cast(dec) *
              (col("n") * col("s2") - col("s") * col("s")))
          .select(col("event_id"), col("event_type"), col("v").as("value_q"))
      },
      Some("""WITH e AS (SELECT event_id, event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
             |  FROM events),
             |st AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
             |    sum(CAST(v AS HUGEINT)) AS s,
             |    sum(CAST(v AS HUGEINT) * v) AS s2
             |  FROM e GROUP BY 1)
             |SELECT event_id, event_type, v AS value_q
             |FROM e JOIN st USING (event_type)
             |WHERE (n * v - s) * (n * v - s) > 9 * (n * s2 - s * s)"""
        .stripMargin)),

    "stream_sessionize" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"),
          col("event_id"))
        val gaps = events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_timestamp(col("ts").cast("timestamp")) -
                unix_timestamp(col("prev_ts").cast("timestamp")) > 1800, 1)
              .otherwise(0))
        gaps.withColumn("session_no",
            sum(col("new_session")).over(
              Window.partitionBy(col("user_id")).orderBy(col("ts"),
                col("event_id"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"))
          .agg(max(col("session_no")).as("n_sessions"),
            count(lit(1)).as("n_events"))
      },
      Some("""WITH gaps AS (SELECT user_id, ts, event_id,
             |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |      AS prev_ts FROM events),
             |  flags AS (SELECT user_id, ts, event_id,
             |    CASE WHEN prev_ts IS NULL
             |      OR date_diff('second', prev_ts, ts) > 1800
             |      THEN 1 ELSE 0 END AS new_session FROM gaps),
             |  sess AS (SELECT user_id,
             |    sum(new_session) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS session_no FROM flags)
             |SELECT user_id, CAST(max(session_no) AS BIGINT) AS n_sessions,
             |  count(*) AS n_events
             |FROM sess GROUP BY user_id""".stripMargin)),

    // ---- custom join operators Spark lacks natively -------------------

    "asof_join_events" -> QueryDef(
      (s, d) => {
        val e = events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("click_ts_us"))
        // right side unique per (key, ts): max(value) resolves same-ts
        // views deterministically
        val views = e.filter(col("event_type") === "view")
          .select(col("user_id"), unix_micros(col("ts")).as("view_ts_us"),
            col("value"))
          .groupBy(col("user_id"), col("view_ts_us"))
          .agg(dsum(col("value")).as("view_value"))
        graft.operators.AsOfJoin.backward(clicks, views,
          keys = Seq("user_id"), leftTs = "click_ts_us",
          rightTs = "view_ts_us", rightVals = Seq("view_ts_us",
            "view_value"))
      },
      Some("""WITH c AS (SELECT user_id, event_id,
             |    epoch_us(ts) AS click_ts_us
             |  FROM events WHERE event_type = 'click'),
             |v AS (SELECT user_id, epoch_us(ts) AS view_ts_us,
             |    CAST(sum(value::DECIMAL(18,2)) AS DOUBLE) AS view_value
             |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
             |SELECT c.user_id, c.event_id, c.click_ts_us,
             |  v.view_ts_us, v.view_value
             |FROM c ASOF JOIN v
             |  ON c.user_id = v.user_id
             |  AND c.click_ts_us >= v.view_ts_us""".stripMargin)),

    "range_join_attribution" -> QueryDef(
      (s, d) => {
        val e = events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            unix_micros(col("ts")).as("click_ts_us"))
        val windows = e.filter(col("event_type") === "signup")
          .select(col("user_id"), col("event_id").as("signup_id"),
            unix_micros(col("ts")).as("lo_us"),
            (unix_micros(col("ts")) + 3600L * 1000000L).as("hi_us"))
        // 30-min buckets: each 1-h window spans 2-3 buckets
        graft.operators.RangeJoin.pointInInterval(
          clicks, "click_ts_us", windows, "lo_us", "hi_us",
          bucketWidth = 1800L * 1000000L, keys = Seq("user_id"))
          .select(col("user_id"), col("click_id"), col("signup_id"))
      },
      Some("""SELECT c.user_id, c.event_id AS click_id,
             |  s.event_id AS signup_id
             |FROM events c JOIN events s
             |  ON c.user_id = s.user_id
             |  AND c.event_type = 'click' AND s.event_type = 'signup'
             |  AND epoch_us(c.ts) >= epoch_us(s.ts)
             |  AND epoch_us(c.ts) <= epoch_us(s.ts) + 3600000000"""
        .stripMargin)),

    // ordered funnel: first signup -> first view at/after it -> first
    // purchase at/after that, per user. Three conditional min-aggregates
    // all partitioned on user_id, so the two stage joins reuse the same
    // hash partitioning — no extra exchange per stage at 100 TB. The
    // final rollup is a single map-side-combinable count.
    "funnel_conversion" -> QueryDef(
      (s, d) => {
        val e = events(s, d).select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        val t1 = e.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
        val t2 = e.filter(col("event_type") === "view").join(t1, "user_id")
          .filter(col("us") >= col("t1"))
          .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
        val t3 = e.filter(col("event_type") === "purchase")
          .join(t2, "user_id")
          .filter(col("us") >= col("t2"))
          .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
        t1.select(col("user_id"), lit(1).as("stage"))
          .unionByName(t2.select(col("user_id"), lit(2).as("stage")))
          .unionByName(t3.select(col("user_id"), lit(3).as("stage")))
          .agg(
            // coalesce: sum over zero rows is NULL, but the oracle's
            // scalar COUNT subqueries return 0 on an empty funnel
            coalesce(sum(when(col("stage") === 1, 1L).otherwise(0L)),
              lit(0L)).as("n_signup"),
            coalesce(sum(when(col("stage") === 2, 1L).otherwise(0L)),
              lit(0L)).as("n_viewed"),
            coalesce(sum(when(col("stage") === 3, 1L).otherwise(0L)),
              lit(0L)).as("n_purchased"))
      },
      Some("""WITH t1 AS (SELECT user_id, min(epoch_us(ts)) AS t1
             |    FROM events WHERE event_type = 'signup' GROUP BY user_id),
             |t2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
             |  FROM events e JOIN t1 ON e.user_id = t1.user_id
             |  WHERE e.event_type = 'view' AND epoch_us(e.ts) >= t1.t1
             |  GROUP BY e.user_id),
             |t3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3
             |  FROM events e JOIN t2 ON e.user_id = t2.user_id
             |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= t2.t2
             |  GROUP BY e.user_id)
             |SELECT (SELECT count(*) FROM t1) AS n_signup,
             |  (SELECT count(*) FROM t2) AS n_viewed,
             |  (SELECT count(*) FROM t3) AS n_purchased""".stripMargin)),

    // TPC-H q6 shape: tight scan-side filter + one exact-decimal global
    // aggregate. The whole query is a single pass — filters reach
    // PushedFilters, the product folds in decimal, no exchange beyond
    // the final single-row combine.
    "q6_forecast_revenue" -> QueryDef(
      (s, d) => table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(dsumExpr(dec(col("l_extendedprice")) *
          dec(col("l_discount"))).as("revenue")),
      Some("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |  CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM lineitem
             |WHERE l_shipdate >= '1996-01-01'
             |  AND l_shipdate < '1997-01-01'
             |  AND l_discount BETWEEN 0.05 AND 0.07
             |  AND l_quantity < 24""".stripMargin)),

    // TPC-H q4 shape (adapted: the synthetic lineitem has no
    // commit/receipt dates, so the EXISTS predicate is "order has a
    // returned item"): LEFT SEMI join — the build side is just order
    // keys, no row multiplication — then a tiny priority rollup.
    "q4_order_priority" -> QueryDef(
      (s, d) => {
        val returned = table(s, d, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"))
        table(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01"))
          .join(returned, col("o_orderkey") === col("l_orderkey"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders
             |WHERE o_orderdate >= '1996-01-01'
             |  AND o_orderdate < '1997-01-01'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
             |GROUP BY o_orderpriority""".stripMargin)),

    // TPC-H q14 shape: fact-to-dim join + conditional exact-decimal
    // sums; the promo share is a single final double division. The part
    // dim broadcasts; lineitem never shuffles.
    "q14_promo_share" -> QueryDef(
      (s, d) => {
        val part = table(s, d, "part")
          .select(col("p_partkey"), col("p_type"))
        table(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-03-01") &&
            col("l_shipdate") < lit("1996-04-01"))
          .join(part, col("l_partkey") === col("p_partkey"))
          .agg(
            dsumExpr(when(col("p_type") === "PROMO",
              dec(col("l_extendedprice")) *
                (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
              .otherwise(lit(0).cast("decimal(18,2)")))
              .as("promo_revenue"),
            dsumExpr(dec(col("l_extendedprice")) *
              (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
              .as("total_revenue"))
          .select(col("promo_revenue"), col("total_revenue"),
            (col("promo_revenue") / col("total_revenue"))
              .as("promo_share"))
      },
      Some("""WITH j AS (SELECT l_extendedprice, l_discount, p_type
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  WHERE l_shipdate >= '1996-03-01'
             |    AND l_shipdate < '1996-04-01'),
             |a AS (SELECT
             |  CAST(sum(CASE WHEN p_type = 'PROMO'
             |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
             |      (1 - CAST(l_discount AS DECIMAL(18,2)))
             |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             |    AS promo_revenue,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             |    AS total_revenue
             |  FROM j)
             |SELECT promo_revenue, total_revenue,
             |  promo_revenue / total_revenue AS promo_share
             |FROM a""".stripMargin)),

    // TPC-H q7 shape: the SAME dimension (nation) plays two roles —
    // supplier nation and customer nation — so it broadcasts twice under
    // different aliases; the asymmetric pair predicate applies after both
    // roles are bound. Fact scans keep their pushed date filter; the
    // rollup is |pairs × years| rows. The SF-scaling sides (supplier/
    // customer/orders slices) take stats-seeded hints: broadcast only
    // while their source files measure under the cap — the adaptive
    // plan's conservative first exchange cost factor-10 ~10% vs the
    // (unboundedly) forced plan, and the measured gate recovers it
    // without reintroducing an unbounded collect (BASELINE.md r15/r16).
    "q7_volume_shipping" -> QueryDef(
      (s, d) => {
        val n1 = table(s, d, "nation").filter(col("n_nationkey") < 5)
          .select(col("n_nationkey").as("n1_key"),
            col("n_name").as("supp_nation"))
        val n2 = table(s, d, "nation").filter(col("n_nationkey") < 5)
          .select(col("n_nationkey").as("n2_key"),
            col("n_name").as("cust_nation"))
        val supp = table(s, d, "supplier")
          .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
          .select(col("s_suppkey"), col("n1_key"), col("supp_nation"))
        val cust = table(s, d, "customer")
          .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
          .select(col("c_custkey"), col("n2_key"), col("cust_nation"))
        val ord = table(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        table(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1998-01-01"))
          .select(col("l_orderkey"), col("l_suppkey"),
            year(col("l_shipdate")).cast("long").as("l_year"),
            (dec(col("l_extendedprice")) *
              (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
              .as("volume"))
          .join(statsBroadcast(s, d, supp, Seq("supplier", "nation")),
            col("l_suppkey") === col("s_suppkey"))
          .join(statsBroadcast(s, d, ord, Seq("orders")),
            col("l_orderkey") === col("o_orderkey"))
          .join(statsBroadcast(s, d, cust, Seq("customer", "nation")),
            col("o_custkey") === col("c_custkey"))
          .filter(col("n1_key") =!= col("n2_key"))
          .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
          .agg(sum(col("volume")).cast("double").as("revenue"))
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |  year(l_shipdate) AS l_year,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             |    AS revenue
             |FROM lineitem
             |JOIN supplier ON s_suppkey = l_suppkey
             |JOIN orders ON o_orderkey = l_orderkey
             |JOIN customer ON c_custkey = o_custkey
             |JOIN nation n1 ON s_nationkey = n1.n_nationkey
             |JOIN nation n2 ON c_nationkey = n2.n_nationkey
             |WHERE n1.n_nationkey < 5 AND n2.n_nationkey < 5
             |  AND n1.n_nationkey <> n2.n_nationkey
             |  AND l_shipdate >= '1996-01-01'
             |  AND l_shipdate < '1998-01-01'
             |GROUP BY 1, 2, 3""".stripMargin)),

    // TPC-H q8 shape: national market share — a conditional share of a
    // region-gated 6-way join, per year. Nation binds twice (supplier
    // role feeds the share condition, customer role gates on the home
    // nation's region key — nation already carries n_regionkey, so no
    // region-table join is needed to resolve it); the share is two
    // exact-decimal conditional sums and ONE final double division per
    // year (q14's discipline at q8's width). NATION_3 has suppliers at
    // BOTH verified scale factors, so the conditional numerator is
    // non-degenerate everywhere the oracle runs.
    "q8_market_share" -> QueryDef(
      (s, d) => {
        val nation = table(s, d, "nation")
        val homeRegion = nation.filter(col("n_name") === "NATION_3")
          .select(col("n_regionkey").as("home_rk"))
        val custGeo = broadcast(nation
          .join(broadcast(homeRegion),
            col("n_regionkey") === col("home_rk"))
          .select(col("n_nationkey").as("cn_key")))
        val suppGeo = table(s, d, "supplier")
          .join(broadcast(nation.select(col("n_nationkey"),
            col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("supp_nation"))
        val promoParts = table(s, d, "part")
          .filter(col("p_type") === "PROMO").select(col("p_partkey"))
        val ord = table(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            year(col("o_orderdate")).cast("long").as("o_year"))
        val cust = table(s, d, "customer")
          .join(custGeo, col("c_nationkey") === col("cn_key"))
          .select(col("c_custkey"))
        table(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            (dec(col("l_extendedprice")) *
              (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
              .as("volume"))
          .join(promoParts, col("l_partkey") === col("p_partkey"))
          .join(suppGeo, col("l_suppkey") === col("s_suppkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_year"))
          .agg(
            dsumExpr(when(col("supp_nation") === "NATION_3",
              col("volume")).otherwise(lit(0).cast("decimal(18,2)")))
              .as("nation_volume"),
            dsumExpr(col("volume")).as("total_volume"))
          .select(col("o_year"), col("nation_volume"),
            col("total_volume"),
            (col("nation_volume") / col("total_volume"))
              .as("mkt_share"))
      },
      Some("""WITH home AS (SELECT n_regionkey AS home_rk
             |  FROM nation WHERE n_name = 'NATION_3'),
             |j AS (SELECT year(o_orderdate) AS o_year,
             |    CAST(l_extendedprice AS DECIMAL(18,2)) *
             |      (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
             |    sn.n_name AS supp_nation
             |  FROM lineitem
             |  JOIN part ON p_partkey = l_partkey AND p_type = 'PROMO'
             |  JOIN supplier ON s_suppkey = l_suppkey
             |  JOIN nation sn ON sn.n_nationkey = s_nationkey
             |  JOIN orders ON o_orderkey = l_orderkey
             |  JOIN customer ON c_custkey = o_custkey
             |  JOIN nation cn ON cn.n_nationkey = c_nationkey
             |  JOIN home ON cn.n_regionkey = home_rk)
             |SELECT o_year,
             |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
             |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             |    AS nation_volume,
             |  CAST(sum(volume) AS DOUBLE) AS total_volume,
             |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
             |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             |    / CAST(sum(volume) AS DOUBLE) AS mkt_share
             |FROM j GROUP BY o_year""".stripMargin)),

    // TPC-H q9 shape (adapted: no partsupp/ps_supplycost, so cost =
    // 5% of retail price x quantity — the same triple-decimal product
    // discipline as q1's sum_charge): profit rollup by supplier nation
    // x order year across a 6-way join.
    "q9_product_profit" -> QueryDef(
      (s, d) => {
        val suppGeo = table(s, d, "supplier")
          .join(broadcast(table(s, d, "nation")
            .select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name"))
        val stdParts = table(s, d, "part")
          .filter(col("p_type") === "STANDARD")
          .select(col("p_partkey"), col("p_retailprice"))
        val ord = table(s, d, "orders")
          .select(col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("o_year"))
        table(s, d, "lineitem")
          .join(stdParts, col("l_partkey") === col("p_partkey"))
          .join(suppGeo, col("l_suppkey") === col("s_suppkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_name").as("nation"), col("o_year"))
          .agg(dsumExpr(
            dec(col("l_extendedprice")) *
              (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))) -
            dec(col("l_quantity")) * dec(col("p_retailprice")) *
              lit(0.05).cast("decimal(3,2)"))
            .as("profit"))
      },
      Some("""SELECT n_name AS nation, year(o_orderdate) AS o_year,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |    (1 - CAST(l_discount AS DECIMAL(18,2))) -
             |    CAST(l_quantity AS DECIMAL(18,2)) *
             |    CAST(p_retailprice AS DECIMAL(18,2)) *
             |    CAST(0.05 AS DECIMAL(3,2))) AS DOUBLE) AS profit
             |FROM lineitem
             |JOIN part ON p_partkey = l_partkey AND p_type = 'STANDARD'
             |JOIN supplier ON s_suppkey = l_suppkey
             |JOIN nation ON n_nationkey = s_nationkey
             |JOIN orders ON o_orderkey = l_orderkey
             |GROUP BY 1, 2""".stripMargin)),

    // TPC-H q16 shape (adapted: supplier participation from lineitem —
    // the synthetic schema has no partsupp): DISTINCT-count aggregation
    // over a fact-to-dim join, the one aggregate flavor the analytics
    // family didn't cover yet. Spark plans count(DISTINCT) as the
    // two-level Expand-free partial-distinct rollup.
    "q16_supplier_part_counts" -> QueryDef(
      (s, d) => {
        val parts = table(s, d, "part")
          .filter(col("p_brand") =!= "Brand#1" && col("p_size") <= 10)
          .select(col("p_partkey"), col("p_brand"), col("p_type"),
            col("p_size"))
        table(s, d, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"))
          .join(parts, col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      },
      Some("""SELECT p_brand, p_type, p_size,
             |  count(DISTINCT l_suppkey) AS supplier_cnt
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE p_brand <> 'Brand#1' AND p_size <= 10
             |GROUP BY 1, 2, 3""".stripMargin)),

    // TPC-H q10 shape: returned-revenue per customer over one quarter,
    // top 20. The revenue rollup groups on the (already joined) customer
    // attributes, so no second join back to customer; nation broadcasts.
    "q10_returned_items" -> QueryDef(
      (s, d) => {
        val nat = broadcast(table(s, d, "nation")
          .select(col("n_nationkey"), col("n_name")))
        val cust = table(s, d, "customer")
          .join(nat, col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("n_name"))
        val ord = table(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1996-04-01"))
          .select(col("o_orderkey"), col("o_custkey"))
        table(s, d, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"),
            (dec(col("l_extendedprice")) *
              (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
              .as("rev"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("n_name"))
          .agg(sum(col("rev")).as("rev_dec"))
          .orderBy(col("rev_dec").desc, col("c_custkey").asc)
          .limit(20)
          .select(col("c_custkey"), col("c_name"),
            col("rev_dec").cast("double").as("revenue"),
            col("c_acctbal"), col("n_name"))
      },
      Some("""SELECT c_custkey, c_name,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             |    AS revenue,
             |  c_acctbal, n_name
             |FROM customer, orders, lineitem, nation
             |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
             |  AND o_orderdate >= '1996-01-01'
             |  AND o_orderdate < '1996-04-01'
             |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
             |GROUP BY c_custkey, c_name, c_acctbal, n_name
             |ORDER BY sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |  (1 - CAST(l_discount AS DECIMAL(18,2)))) DESC, c_custkey
             |LIMIT 20""".stripMargin)),

    // TPC-H q13 shape (adapted: the synthetic orders table has no
    // o_comment to exclude): LEFT OUTER join so zero-order customers
    // survive with c_count = 0, then a histogram of the counts — the
    // one double-aggregation query in the suite. count(o_orderkey)
    // counts non-null keys only, exactly the outer-join semantics the
    // oracle uses.
    "q13_order_distribution" -> QueryDef(
      (s, d) => {
        val ord = table(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        table(s, d, "customer").select(col("c_custkey"))
          .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
      },
      Some("""SELECT c_count, count(*) AS custdist
             |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
             |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
             |  GROUP BY c_custkey)
             |GROUP BY c_count""".stripMargin)),

    // TPC-H q15 shape: quarterly revenue per supplier, then the
    // suppliers achieving the global max. The max is a one-row aggregate
    // of the (already small) revenue view — broadcast back as an
    // equality filter, never a global sort. Revenue stays decimal until
    // after the max-equality so ties are exact. The revenue view is
    // persisted for its two consumers (rows + max): AQE does NOT reuse
    // the aggregation shuffle across the branches (verified on the
    // runtime plan), so without the persist the fact table scans twice.
    "q15_top_supplier" -> QueryDef(
      (s, d) => {
        val rev = table(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1996-04-01"))
          .groupBy(col("l_suppkey"))
          .agg(sum(dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
            .as("tr"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val mx = rev.agg(max(col("tr")).as("mx"))
        graft.operators.Dedup.releaseAfter(
          rev.join(broadcast(mx), col("tr") === col("mx"))
          .join(table(s, d, "supplier")
            .select(col("s_suppkey"), col("s_name")),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            col("tr").cast("double").as("total_revenue")), rev)
      },
      Some("""WITH r AS (SELECT l_suppkey,
             |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS tr
             |  FROM lineitem
             |  WHERE l_shipdate >= '1996-01-01'
             |    AND l_shipdate < '1996-04-01'
             |  GROUP BY l_suppkey)
             |SELECT s_suppkey, s_name, CAST(tr AS DOUBLE) AS total_revenue
             |FROM r JOIN supplier ON s_suppkey = l_suppkey
             |WHERE tr = (SELECT max(tr) FROM r)""".stripMargin)),

    // TPC-H q17 shape (adapted: no p_container, the brand filter alone
    // selects the part subset): lineitems below 20% of their part's
    // average quantity. The correlated scalar subquery decorrelates into
    // a per-part aggregate joined back to the fact; the comparison is
    // cross-multiplied (qty * 5 * n < sum) so it stays in exact decimal
    // arithmetic — no division, no float drift.
    "q17_small_quantity_revenue" -> QueryDef(
      (s, d) => {
        val perPart = table(s, d, "lineitem")
          .groupBy(col("l_partkey").as("pk"))
          .agg(sum(dec(col("l_quantity"))).as("qty_sum"),
            count(lit(1)).as("qty_n"))
        val brandParts = table(s, d, "part")
          .filter(col("p_brand") === "Brand#23")
          .select(col("p_partkey"))
        table(s, d, "lineitem")
          .join(brandParts, col("l_partkey") === col("p_partkey"))
          .join(perPart, col("l_partkey") === col("pk"))
          .filter(dec(col("l_quantity")) * 5 * col("qty_n") <
            col("qty_sum"))
          .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
      },
      Some("""WITH a AS (SELECT l_partkey AS pk,
             |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_sum,
             |    count(*) AS qty_n
             |  FROM lineitem GROUP BY 1)
             |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
             |    AS DOUBLE) / 7.0 AS avg_yearly
             |FROM lineitem
             |JOIN part ON p_partkey = l_partkey
             |JOIN a ON pk = l_partkey
             |WHERE p_brand = 'Brand#23'
             |  AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * qty_n < qty_sum"""
        .stripMargin)),

    // TPC-H q18 shape: orders whose total quantity exceeds a threshold
    // (HAVING on the fact rollup), joined back to the order/customer
    // detail plus the same rollup value. The big-order keyset is tiny
    // by DATA (46 at sf0.01), not by construction — no UNCONDITIONAL
    // broadcast; the rollup is row-bounded by the orders table (one
    // row per distinct order key at a fraction of its width), so the
    // stats-seeded hint fires while the orders file measures under the
    // cap and reverts to the adaptive plan beyond it.
    "q18_large_volume_customers" -> QueryDef(
      (s, d) => {
        val big = table(s, d, "lineitem")
          .groupBy(col("l_orderkey").as("big_key"))
          .agg(sum(dec(col("l_quantity"))).as("total_qty_dec"))
          .filter(col("total_qty_dec") > 300)
        val ord = table(s, d, "orders")
          .join(statsBroadcast(s, d, big, Seq("orders")),
            col("o_orderkey") === col("big_key"))
        table(s, d, "customer")
          .select(col("c_custkey"), col("c_name"))
          .join(statsBroadcast(s, d, ord, Seq("orders")),
            col("c_custkey") === col("o_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd")
              .as("o_orderdate"),
            col("o_totalprice"),
            col("total_qty_dec").cast("double").as("total_qty"))
      },
      Some("""WITH big AS (SELECT l_orderkey AS big_key,
             |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty_dec
             |  FROM lineitem GROUP BY 1
             |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
             |SELECT c_custkey, c_name, o_orderkey,
             |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
             |  o_totalprice, CAST(total_qty_dec AS DOUBLE) AS total_qty
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN big ON o_orderkey = big_key""".stripMargin)),

    // TPC-H q19 shape: disjunctive join predicates — an equi-join on
    // partkey with an OR-of-ANDs residual mixing columns from BOTH
    // sides. Catalyst keeps the equi-join hashable and evaluates the
    // disjunction as a post-join filter; a naive engine degrades to a
    // nested-loop join here.
    "q19_disjunctive_revenue" -> QueryDef(
      (s, d) => {
        val part = table(s, d, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_size"))
        table(s, d, "lineitem")
          .select(col("l_partkey"), col("l_quantity"),
            (dec(col("l_extendedprice")) *
              (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
              .as("rev"))
          .join(part, col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_brand") === "Brand#12" &&
              col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#23" &&
              col("p_size").between(1, 20) &&
              col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#3" &&
              col("p_size").between(1, 25) &&
              col("l_quantity").between(20, 30)))
          .agg(dsumExpr(col("rev")).as("revenue"))
      },
      Some("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |  (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             |  AS revenue
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
             |    AND l_quantity BETWEEN 1 AND 11)
             |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
             |    AND l_quantity BETWEEN 10 AND 20)
             |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25
             |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // TPC-H q22 shape (adapted: every synthetic customer has orders and
    // there is no c_phone, so "idle" = above-average balance with no
    // order since 2000-01-01): scalar-subquery threshold broadcast as a
    // one-row cross join + LEFT ANTI join against the recent-order
    // keyset. The threshold divides an exact decimal sum as the very
    // last step, so both engines compare the same IEEE double.
    "q22_idle_balance" -> QueryDef(
      (s, d) => {
        val cust = table(s, d, "customer")
        val thr = cust.filter(col("c_acctbal") > 0)
          .agg((dsum(col("c_acctbal")) / count(lit(1))).as("thr"))
        val recent = table(s, d, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01"))
          .select(col("o_custkey"))
        val nat = broadcast(table(s, d, "nation")
          .select(col("n_nationkey"), col("n_name")))
        cust.crossJoin(broadcast(thr))
          .filter(col("c_acctbal") > col("thr"))
          .join(recent, col("c_custkey") === col("o_custkey"),
            "left_anti")
          .join(nat, col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("numcust"),
            dsum(col("c_acctbal")).as("totacctbal"))
      },
      Some("""WITH thr AS (SELECT
             |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             |      / count(*) AS thr
             |  FROM customer WHERE c_acctbal > 0)
             |SELECT n_name, count(*) AS numcust,
             |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             |    AS totacctbal
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE c_acctbal > (SELECT thr FROM thr)
             |  AND NOT EXISTS (SELECT 1 FROM orders
             |    WHERE o_custkey = c_custkey
             |      AND o_orderdate >= '2000-01-01')
             |GROUP BY n_name""".stripMargin)),

    // TPC-H q2 shape (adapted: the fixture has no partsupp table, so the
    // supply catalog is derived — min observed sale price per
    // (part, supplier) pair): the correlated-min subquery — for each
    // qualifying part, the EUROPE supplier(s) achieving the region-wide
    // minimum supply cost. The Spark spelling decorrelates to a per-part
    // min aggregate joined back on (partkey, cost): both sides of that
    // join came out of the same groupBy exchange on partkey, so AQE
    // co-partitions them; the dimension chain (supplier x nation x
    // region) broadcasts. Costs are exact DECIMAL(18,2) mins, so the
    // equality join cannot float-drift across engines.
    "q2_min_cost_supplier" -> QueryDef(
      (s, d) => {
        val ps = table(s, d, "lineitem")
          .groupBy(col("l_partkey").as("ps_partkey"),
            col("l_suppkey").as("ps_suppkey"))
          .agg(min(dec(col("l_extendedprice"))).as("ps_supplycost"))
        val geo = broadcast(table(s, d, "nation")
          .join(table(s, d, "region").filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name")))
        val supp = table(s, d, "supplier")
          .join(geo, col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
            col("n_name"))
        val eligible = ps.join(
          statsBroadcast(s, d, supp, Seq("supplier")),
          col("ps_suppkey") === col("s_suppkey"))
        val minCost = eligible.groupBy(col("ps_partkey").as("mk"))
          .agg(min(col("ps_supplycost")).as("min_cost"))
        val parts = table(s, d, "part")
          .filter(col("p_type") === "STANDARD" &&
            col("p_size").between(10, 20))
          .select(col("p_partkey"), col("p_name"))
        eligible
          .join(minCost, col("ps_partkey") === col("mk") &&
            col("ps_supplycost") === col("min_cost"))
          .join(statsBroadcast(s, d, parts, Seq("part")),
            col("ps_partkey") === col("p_partkey"))
          .orderBy(col("s_acctbal").desc, col("n_name").asc,
            col("s_name").asc, col("p_partkey").asc)
          .limit(100)
          .select(col("s_acctbal"), col("s_name"), col("n_name"),
            col("p_partkey"), col("p_name"),
            col("ps_supplycost").cast("double").as("supply_cost"))
      },
      Some("""WITH ps AS (SELECT l_partkey AS ps_partkey,
             |    l_suppkey AS ps_suppkey,
             |    min(CAST(l_extendedprice AS DECIMAL(18,2)))
             |      AS ps_supplycost
             |  FROM lineitem GROUP BY 1, 2)
             |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
             |  CAST(ps_supplycost AS DOUBLE) AS supply_cost
             |FROM part, ps, supplier, nation, region
             |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
             |  AND p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20
             |  AND s_nationkey = n_nationkey
             |  AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
             |  AND ps_supplycost = (
             |    SELECT min(p2.ps_supplycost)
             |    FROM ps p2, supplier s2, nation n2, region r2
             |    WHERE p2.ps_partkey = ps.ps_partkey
             |      AND s2.s_suppkey = p2.ps_suppkey
             |      AND s2.s_nationkey = n2.n_nationkey
             |      AND n2.n_regionkey = r2.r_regionkey
             |      AND r2.r_name = 'EUROPE')
             |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
             |LIMIT 100""".stripMargin)),

    // TPC-H q11 shape (adapted: no partsupp/availqty — a part's "stock
    // value" is the exact-decimal revenue booked against EUROPE
    // suppliers): per-part rollup filtered by a scalar subquery over
    // its own total — parts worth more than 1.5x the average part
    // value. Following the q22 precedent, the threshold converts the
    // exact decimal sum to DOUBLE as the very last step and both
    // engines evaluate the identical IEEE expression (sum*1.5/n), so
    // no boundary row can disagree. The global aggregate broadcasts as
    // a one-row cross join.
    "q11_important_stock" -> QueryDef(
      (s, d) => {
        val geo = broadcast(table(s, d, "nation")
          .join(table(s, d, "region").filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey")))
        val supp = table(s, d, "supplier")
          .join(geo, col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"))
        val pv = table(s, d, "lineitem")
          .join(statsBroadcast(s, d, supp, Seq("supplier")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey").as("ps_partkey"))
          .agg(sum(dec(col("l_extendedprice"))).as("value_dec"))
        val thr = pv.agg((sum(col("value_dec")).cast("double") *
          lit(1.5) / count(lit(1))).as("thr"))
        pv.crossJoin(broadcast(thr))
          .filter(col("value_dec").cast("double") > col("thr"))
          .select(col("ps_partkey"),
            col("value_dec").cast("double").as("part_value"))
      },
      Some("""WITH pv AS (SELECT l_partkey AS ps_partkey,
             |    sum(CAST(l_extendedprice AS DECIMAL(18,2)))
             |      AS value_dec
             |  FROM lineitem, supplier, nation, region
             |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
             |    AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
             |  GROUP BY 1)
             |SELECT ps_partkey, CAST(value_dec AS DOUBLE) AS part_value
             |FROM pv
             |WHERE CAST(value_dec AS DOUBLE) >
             |  (SELECT CAST(sum(value_dec) AS DOUBLE) * 1.5 / count(*)
             |   FROM pv)""".stripMargin)),

    // TPC-H q12 shape (adapted: the synthetic lineitem carries no
    // shipmode/commit/receipt dates — "late" is shipped more than 60
    // days after order placement, and the return flag plays the
    // shipmode class): conditional aggregation over the order x
    // lineitem join — per class, late shipments split by order
    // urgency. The CASE sums are pure integer counts; the join stays
    // an equi-join on orderkey with the date comparison as a residual,
    // so Catalyst keeps it hashable.
    "q12_late_shipment_priority" -> QueryDef(
      (s, d) => {
        val ord = table(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderdate"),
            col("o_orderpriority"))
        table(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1997-01-01"))
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_shipdate"))
          .join(statsBroadcast(s, d, ord, Seq("orders")),
            col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .groupBy(col("l_returnflag").as("ship_class"))
          .agg(
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
              1).otherwise(0)).as("high_line_count"),
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
              0).otherwise(1)).as("low_line_count"))
      },
      Some("""SELECT l_returnflag AS ship_class,
             |  CAST(sum(CASE WHEN o_orderpriority IN
             |      ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
             |    AS BIGINT) AS high_line_count,
             |  CAST(sum(CASE WHEN o_orderpriority IN
             |      ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
             |    AS BIGINT) AS low_line_count
             |FROM orders, lineitem
             |WHERE o_orderkey = l_orderkey
             |  AND l_shipdate >= '1996-01-01'
             |  AND l_shipdate < '1997-01-01'
             |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
             |GROUP BY 1""".stripMargin)),

    // TPC-H q20 shape (adapted: "availability" is the pair's all-time
    // shipped quantity; the promotion window is 1996): the nested
    // semi-join chain with a correlated aggregate — ASIA suppliers
    // holding a 'large%' part whose pair-level stock exceeds half the
    // part's 1996 demand. The Spark spelling decorrelates the inner
    // scalar subquery to a per-part demand rollup joined on partkey
    // (inner join = the oracle's NULL-comparison-is-false semantics);
    // the part filter broadcasts; the supplier keyset arrives by
    // left-semi join. Stock-vs-demand compares exact decimals (x2 on
    // one side), so no float boundary exists.
    "q20_part_promotion" -> QueryDef(
      (s, d) => {
        val li = table(s, d, "lineitem")
        val largeParts = table(s, d, "part")
          .filter(col("p_name").like("large%"))
          .select(col("p_partkey"))
        val pairs = li
          .join(statsBroadcast(s, d, largeParts, Seq("part")),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
          .agg(sum(dec(col("l_quantity"))).as("pair_qty"))
        val demand = li
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1997-01-01"))
          .join(statsBroadcast(s, d, largeParts, Seq("part")),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_partkey").as("dk"))
          .agg(sum(dec(col("l_quantity"))).as("year_qty"))
        val promoSupp = pairs
          .join(demand, col("pk") === col("dk"))
          .filter(col("pair_qty") * 2 > col("year_qty"))
          .select(col("sk")).distinct()
        val geo = broadcast(table(s, d, "nation")
          .join(table(s, d, "region").filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey")))
        table(s, d, "supplier")
          .join(geo, col("s_nationkey") === col("n_nationkey"))
          .join(promoSupp, col("s_suppkey") === col("sk"), "left_semi")
          .select(col("s_name"), col("s_acctbal"))
      },
      Some("""WITH pairs AS (SELECT l_partkey AS pk, l_suppkey AS sk,
             |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS pair_qty
             |  FROM lineitem
             |  WHERE l_partkey IN
             |    (SELECT p_partkey FROM part WHERE p_name LIKE 'large%')
             |  GROUP BY 1, 2)
             |SELECT s_name, s_acctbal
             |FROM supplier, nation, region
             |WHERE s_nationkey = n_nationkey
             |  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
             |  AND s_suppkey IN (
             |    SELECT sk FROM pairs
             |    WHERE pair_qty * 2 > (
             |      SELECT sum(CAST(l2.l_quantity AS DECIMAL(18,2)))
             |      FROM lineitem l2
             |      WHERE l2.l_partkey = pairs.pk
             |        AND l2.l_shipdate >= '1996-01-01'
             |        AND l2.l_shipdate < '1997-01-01'))"""
        .stripMargin)),

    // TPC-H q21 shape (adapted lateness as in q12, 30-day threshold):
    // the multi-EXISTS / NOT-EXISTS anti-join chain — late lineitems
    // on finalized multi-supplier orders where NO OTHER supplier was
    // late. The Spark spelling decorrelates both quantified subqueries
    // to per-order rollups (distinct suppliers; distinct LATE
    // suppliers) joined back on orderkey: EXISTS(other supplier) =
    // nsupp > 1, NOT EXISTS(other late supplier) = nlate = 1 (this
    // row's own supplier is late by construction) — three aggregations
    // co-partitioned on the same key, so AQE reuses the exchange
    // layout instead of re-shuffling per quantifier.
    "q21_waiting_suppliers" -> QueryDef(
      (s, d) => {
        val ordF = table(s, d, "orders")
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate"))
        val li = table(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        // ONE lineitem pass (r20; the round-20 build spelling scanned
        // lineitem three times — once per quantifier — and computed the
        // late join twice): roll up late-item counts per
        // (order, supplier) behind the broadcast orders join, then
        // derive BOTH quantifiers from that rollup — nsupp = group
        // count (distinct suppliers by construction), nlate = groups
        // with a late item. Only F orders survive the inner join, which
        // is harmless to the quantifiers: a qualifying l1 row's order
        // is F, so every same-order l2/l3 row survives with it. The
        // rollup persists because BOTH the order-level stats and the
        // spine consume it and AQE's runtime stage reuse does not fire
        // across the two consumers (without the persist the executed
        // plan ran two full lineitem scans; `graft.tools.Profile ...
        // executed` counts them).
        val perOS = li
          .join(statsBroadcast(s, d, ordF, Seq("orders")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"), col("l_suppkey"))
          .agg(sum(when(col("l_shipdate") >
              col("o_orderdate") + expr("INTERVAL 30 DAYS"), 1L)
            .otherwise(0L)).as("n_late_items"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val stats = perOS.groupBy(col("l_orderkey").as("ok"))
          .agg(count(lit(1)).as("nsupp"),
            sum(when(col("n_late_items") > 0, 1L).otherwise(0L))
              .as("nlate"))
        // release the rollup with the (≤100-row) result — an unreleased
        // cache outlives the query and accumulates across a registry run
        graft.operators.Dedup.releaseAfter(
          perOS.filter(col("n_late_items") > 0)
            .join(stats, col("l_orderkey") === col("ok"))
            .filter(col("nsupp") > 1 && col("nlate") === 1)
            .join(statsBroadcast(s, d, table(s, d, "supplier")
                .select(col("s_suppkey"), col("s_name")),
                Seq("supplier")),
              col("l_suppkey") === col("s_suppkey"))
            .groupBy(col("s_name"))
            .agg(sum(col("n_late_items")).as("numwait"))
            .orderBy(col("numwait").desc, col("s_name").asc)
            .limit(100), perOS)
      },
      Some("""SELECT s_name, count(*) AS numwait
             |FROM supplier, lineitem l1, orders
             |WHERE s_suppkey = l1.l_suppkey
             |  AND o_orderkey = l1.l_orderkey
             |  AND o_orderstatus = 'F'
             |  AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
             |  AND EXISTS (SELECT 1 FROM lineitem l2
             |    WHERE l2.l_orderkey = l1.l_orderkey
             |      AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |    WHERE l3.l_orderkey = l1.l_orderkey
             |      AND l3.l_suppkey <> l1.l_suppkey
             |      AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY)
             |GROUP BY s_name
             |ORDER BY numwait DESC, s_name
             |LIMIT 100""".stripMargin)),

    // incremental aggregate maintenance under CDC: the engine MAINTAINS
    // the rollup (base + inserted − deleted, exact decimal algebra,
    // O(batch + touched groups)); the oracle RECOMPUTES it from scratch
    // over the final row set — hash equality proves the maintenance is
    // exactly equivalent to a full fact-table re-aggregation.
    "agg_incremental_maintenance" -> QueryDef(
      (s, d) => {
        import graft.operators.IncrementalAgg
        val li = table(s, d, "lineitem")
        val gk = Seq("l_returnflag", "l_linestatus")
        val baseFacts = li.filter(col("l_orderkey") % 10 =!= 0)
        val base = IncrementalAgg.sumCountRollup(baseFacts, gk,
          col("l_quantity"))
        val inserted = li.filter(col("l_orderkey") % 10 === 0)
        val deleted = baseFacts.filter(col("l_orderkey") % 7 === 0)
        IncrementalAgg.maintainSumCount(base, inserted, deleted, gk,
            col("l_quantity"))
          .select(col("l_returnflag"), col("l_linestatus"),
            col("n_rows"), col("n_vals"),
            col("sum_val").cast("double").as("sum_qty"))
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
             |  count(CAST(l_quantity AS DECIMAL(18,2))) AS n_vals,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_qty
             |FROM lineitem
             |WHERE (l_orderkey % 10 <> 0 AND l_orderkey % 7 <> 0)
             |   OR l_orderkey % 10 = 0
             |GROUP BY 1, 2""".stripMargin)),

    // weekly retention cohorts: users grouped by first-seen week, counted
    // once per (cohort, weeks-since-first) they were active in. Weeks are
    // integer epoch-day buckets (floor(epoch_day/7)) — exact integer
    // arithmetic in both engines, no date-truncation semantics to align.
    // Shape: one exchange on user_id serves BOTH the first-seen min and
    // the distinct (user, week) set (same partitioning), then a map-side
    // combinable rollup of |cohort x offset| rows.
    "cohort_retention" -> QueryDef(
      (s, d) => {
        // exact FLOOR division to match DuckDB's `//` on negative epochs
        // too (Spark's `div` truncates toward zero): subtracting pmod
        // makes the numerator exactly divisible, so `div` == floor
        val e = events(s, d).select(col("user_id"),
          expr("""((unix_micros(ts) - pmod(unix_micros(ts), 86400000000))
                 |  div 86400000000)""".stripMargin).as("day"))
          .select(col("user_id"),
            expr("(day - pmod(day, 7)) div 7").as("wk"))
        // first-seen week as a window over the distinct activity set:
        // ONE scan of the fact table (a groupBy+join formulation
        // re-scans events for the min side), windows only the distinct
        // (user, week) rows
        val uw = e.distinct()
        uw.withColumn("cohort_week",
            min(col("wk")).over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("user_id"))))
          .groupBy(col("cohort_week"),
            (col("wk") - col("cohort_week")).as("week_offset"))
          .agg(count(lit(1)).as("n_users"))
      },
      Some("""WITH uw AS (SELECT DISTINCT user_id,
             |    epoch_us(ts) // 86400000000 // 7 AS wk FROM events),
             |f AS (SELECT user_id, min(wk) AS cohort_week FROM uw
             |  GROUP BY user_id)
             |SELECT f.cohort_week, uw.wk - f.cohort_week AS week_offset,
             |  count(*) AS n_users
             |FROM uw JOIN f USING (user_id)
             |GROUP BY 1, 2""".stripMargin)),

    // exact-reproducible Pearson matrix: decimal-exact sums, fixed-order
    // double combination — the SQL is generated from the same column
    // list and mirrors the Spark expression term for term
    "profile_correlation" -> QueryDef(
      (s, d) => graft.operators.Profiling.correlationMatrix(
        table(s, d, "lineitem"), CorrCols),
      Some(correlationSql)
    )
  )

  // correlation-profile columns (2-decimal numerics of the fact table).
  // lazy (like correlationSql): both sit below the defs map, and the map
  // forces correlationSql -> CorrCols during object init
  private lazy val CorrCols =
    Seq("l_quantity", "l_extendedprice", "l_discount")

  private lazy val correlationSql = {
    // mirrors Profiling.correlationMatrix's exact-integer moment
    // algebra: 2-decimal values scale ×100 into DECIMAL(18,0), the
    // n·Σxy − Σx·Σy terms evaluate in exact decimal (FMA-immune —
    // DuckDB contracts the DOUBLE spelling of a*b - c*d and lands 1 ulp
    // off the JVM), and only divide/sqrt run in IEEE doubles.
    def dsql(c: String) =
      s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))"
    val sums = CorrCols.map(c =>
      s"CAST(sum(${dsql(c)}) AS DECIMAL(19,0)) AS s_$c")
    val prods = for { i <- CorrCols.indices; j <- i until CorrCols.size }
      yield s"CAST(sum(${dsql(CorrCols(i))} * ${dsql(CorrCols(j))}) " +
        s"AS DECIMAL(28,0)) AS p_${i}_$j"
    // mirrors the Spark side's null discipline: any NULL in either
    // column makes the pair's corr NULL instead of silently wrong
    val nulls = CorrCols.map(c =>
      s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS nn_$c")
    def v(p: String, a: String, b: String) =
      s"CAST(n * $p - $a * $b AS DOUBLE)"
    val rows = for { i <- CorrCols.indices; j <- i + 1 until CorrCols.size }
      yield {
        val (sx, sy) = (s"s_${CorrCols(i)}", s"s_${CorrCols(j)}")
        s"""SELECT '${CorrCols(i)}' AS col_x, '${CorrCols(j)}' AS col_y,
           |  CASE WHEN nn_${CorrCols(i)} > 0 OR nn_${CorrCols(j)} > 0
           |    THEN NULL
           |    ELSE ${v(s"p_${i}_$j", sx, sy)}
           |      / (sqrt(${v(s"p_${i}_$i", sx, sx)})
           |        * sqrt(${v(s"p_${j}_$j", sy, sy)})) END AS corr
           |FROM a""".stripMargin
      }
    s"""WITH a AS (SELECT CAST(count(*) AS DECIMAL(10,0)) AS n,
       |  ${(sums ++ prods ++ nulls).mkString(",\n  ")}
       |  FROM lineitem)
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }
}
