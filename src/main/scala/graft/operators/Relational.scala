package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.ExactSum

/** Relational / analytic core.
  *
  * Every query is a declarative DataFrame plan (Catalyst picks the physical
  * strategy); small dimensions are broadcast explicitly, fact-fact joins
  * shuffle on their keys, and aggregates are map-side-partial by
  * construction. Outputs are deterministic (unique sort keys) and
  * double-typed multi-term aggregates are rounded so the DuckDB oracle
  * hash-matches despite summation-order ulp noise; per-row single IEEE ops
  * are left exact.
  */
object Relational {

  /** Round a multi-term double aggregate (engine summation order differs at
    * ulp level; rounding collapses that noise).
    */
  private def rsum(c: Column, scale: Int): Column = round(sum(c), scale)

  // q01 — TPC-H Q1-shaped pricing summary: scan → filter → groupBy agg.
  val q01: QueryDef = QueryDef.sql(
    "q01_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(CAST(l_extendedprice AS DECIMAL(28,2))), 1)::double AS sum_base_price,
      |  round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))), 1)::double AS sum_disc_price,
      |  round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))), 1)::double AS sum_charge,
      |  round(sum(l_quantity) / count(*), 4) AS avg_qty,
      |  round(CAST(sum(CAST(l_discount AS DECIMAL(28,2))) AS double) / count(*), 6) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    // money sums per-term-quantized to their cent/1e-4/1e-6 grids so the
    // totals are order-independent at any corpus size (ExactSum scaladoc);
    // quantity sums are integer-valued doubles — exact as-is.
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-12-01 00:00:00").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        rsum(col("l_quantity"), 2).as("sum_qty"),
        ExactSum.centSum(col("l_extendedprice"), 2, 1).as("sum_base_price"),
        ExactSum.centSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4, 1).as("sum_disc_price"),
        ExactSum.centSum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6, 1).as("sum_charge"),
        round(sum(col("l_quantity")) / count(lit(1)), 4).as("avg_qty"),
        round(sum(col("l_discount").cast("decimal(28,2)")).cast("double") / count(lit(1)), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // q02 — selective filter + narrow projection; both reach the parquet scan
  // (PushedFilters + pruned ReadSchema). Raw doubles pass through exact.
  val q02: QueryDef = QueryDef.sql(
    "q02_filter_project",
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
      |FROM lineitem
      |WHERE l_quantity >= 47 AND l_discount <= 0.02
      |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_discount""".stripMargin) { (s, d) =>
    // (l_orderkey, l_linenumber) is not unique in the data — sort on every
    // output column so the row order is deterministic across engines.
    Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 47 && col("l_discount") <= 0.02)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
      .orderBy("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
  }

  // q03 — TPC-H Q3 shape: 3-way join, agg, top-N. customer is the small
  // side (broadcast); orders⨝lineitem shuffles on orderkey.
  val q03: QueryDef = QueryDef.sql(
    "q03_join_agg",
    """SELECT l_orderkey,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 20""".stripMargin) { (s, d) =>
    val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1998-01-01 00:00:00").cast("timestamp"))
    broadcast(cust).join(ord, col("c_custkey") === col("o_custkey"))
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .select("l_orderkey", "revenue", "orderdate")
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(20)
  }

  // q04 — star join: fact orders against broadcast dims customer→nation→region.
  val q04: QueryDef = QueryDef.sql(
    "q04_broadcast_join",
    """SELECT r_name, n_name, count(*) AS n_orders,
      |  round(sum(CAST(o_totalprice AS DECIMAL(28,2))), 1)::double AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_orders"),
        ExactSum.centSum(col("o_totalprice"), 2, 1).as("total_price"))
      .orderBy("r_name", "n_name")
  }

  // q05 — TPC-H Q5 shape: 6-table snowflake, revenue by nation where the
  // supplying and purchasing nations coincide.
  val q05: QueryDef = QueryDef.sql(
    "q05_multi_join",
    """SELECT n_name,
      |  round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))), 2)::double AS revenue
      |FROM customer
      |  JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01 00:00:00").cast("timestamp"))
    Tables.customer(s, d)
      .join(ord, col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(ExactSum.centSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4, 2).as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  // q06 — TPC-H Q6 shape: predicate-heavy single-pass agg, one output row.
  val q06: QueryDef = QueryDef.sql(
    "q06_conditional_agg",
    """SELECT round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,4))), 2)::double AS revenue,
      |  count(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.03 AND 0.07
      |  AND l_quantity < 24""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp") &&
        col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
      .agg(ExactSum.centSum(col("l_extendedprice") * col("l_discount"), 4, 2).as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  // q07 — top-k per group via row_number (no global sort of the fact).
  val q07: QueryDef = QueryDef.sql(
    "q07_window_topn",
    """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      |  FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_orderpriority, rn""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "rn")
  }

  // q08 — running sum + 7-row moving average per user over event time.
  // Prefix/frame sums are rounded: window aggregation internals
  // (streaming accumulate vs segment tree) differ at ulp level.
  val q08: QueryDef = QueryDef.sql(
    "q08_window_running",
    """SELECT user_id, event_id,
      |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum,
      |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS moving_sum
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val ordW = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("running_sum",
        round(sum("value").over(ordW.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
      .withColumn("moving_sum",
        round(sum("value").over(ordW.rowsBetween(-6, Window.currentRow)), 2))
      .select("user_id", "event_id", "running_sum", "moving_sum")
      .orderBy("user_id", "event_id")
  }

  // q09 — multi-distinct aggregation.
  val q09: QueryDef = QueryDef.sql(
    "q09_distinct_agg",
    """SELECT event_type,
      |  count(DISTINCT user_id) AS n_users,
      |  count(DISTINCT CAST(ts AS DATE)) AS n_days,
      |  count(*) AS n_events
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(to_date(col("ts"))).as("n_days"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  // q10 — rollup hierarchy agg; NULL subtotal keys labelled 'ALL'.
  val q10: QueryDef = QueryDef.sql(
    "q10_rollup",
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"), rsum(col("l_quantity"), 2).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_rows"), col("sum_qty"))
      .orderBy("returnflag", "linestatus")
  }

  // q11 — semi + anti join: per nation, customers with vs without orders.
  val q11: QueryDef = QueryDef.sql(
    "q11_anti_semi_join",
    """SELECT n_name,
      |  count(CASE WHEN has_order THEN 1 END) AS with_orders,
      |  count(CASE WHEN NOT has_order THEN 1 END) AS without_orders
      |FROM (
      |  SELECT c_custkey, c_nationkey,
      |    EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_order
      |  FROM customer) c
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin) { (s, d) =>
    val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d)
    val withO = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
      .withColumn("has_order", lit(true))
    val withoutO = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .withColumn("has_order", lit(false))
    withO.unionByName(withoutO)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        count(when(col("has_order"), 1)).as("with_orders"),
        count(when(!col("has_order"), 1)).as("without_orders"))
      .orderBy("n_name")
  }

  // q12 — exact interpolated percentiles per group, computed in TWO
  // PASSES so no task ever buffers a group's raw values: (1) one
  // map-side-combined shuffle builds (group, value) counts — duplicates
  // collapse BEFORE the exchange, so it moves O(distinct values) rows;
  // (2) a running-sum window over each group's ordered distinct values
  // turns counts into [cum_start, cum_end) position ranges, and the row
  // whose range covers floor/ceil(p·(n-1)) supplies the interpolation
  // endpoints. Replaces the one-pass `percentile(...)` ObjectHash
  // aggregate, whose buffer holds EVERY raw value of a group inside one
  // task — at 100× scale a hot group is an executor OOM; here the
  // running sum streams its ordered frame, and the group total n comes
  // from an unbounded frame over the SAME WindowExec — that frame does
  // buffer the partition, but it is the post-collapse distinct-value
  // table (bounded by distinct values, not rows) and the buffer is a
  // disk-spillable row buffer, not the aggregate's in-memory array. The
  // final groupBy reuses the window's hash partitioning — no exchange
  // between them (plan-asserted: two hash exchanges total, the counts
  // build and the window repartition). The
  // interpolation a+(b-a)·f over identical doubles is IEEE-identical in
  // both engines, so values stay unrounded.
  val q12: QueryDef = QueryDef.sql(
    "q12_percentiles",
    """SELECT o_orderpriority,
      |  quantile_cont(o_totalprice, 0.5) AS p50,
      |  quantile_cont(o_totalprice, 0.9) AS p90,
      |  quantile_cont(o_totalprice, 0.99) AS p99
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val counts = Tables.orders(s, d)
      .groupBy("o_orderpriority", "o_totalprice")
      .agg(count(lit(1)).as("cnt"))
    // one WindowExec computes both frames (same partitioning+ordering):
    // the running sum streams; the group total's unbounded frame holds
    // the partition in a spillable row buffer — disk-backed, unlike the
    // old aggregate's in-memory value array
    val byPrice = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    val run = byPrice.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = byPrice.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = counts
      .withColumn("cum_end", sum("cnt").over(run))
      .withColumn("cum_start", col("cum_end") - col("cnt"))
      .withColumn("n", sum("cnt").over(whole))
    def endpoints(p: Double, tag: String) = {
      val r = lit(p) * (col("n") - 1).cast("double")
      Seq(
        max(when(col("cum_start") <= floor(r) && floor(r) < col("cum_end"),
          col("o_totalprice"))).as(s"lo_$tag"),
        max(when(col("cum_start") <= ceil(r) && ceil(r) < col("cum_end"),
          col("o_totalprice"))).as(s"hi_$tag"),
        max(r).as(s"r_$tag"))
    }
    // the WEIGHTED interpolation form (hi_idx-r)·lo + (r-lo_idx)·hi,
    // with the integral-rank special case — the exact IEEE op order
    // both engines' quantile_cont/percentile implementations use (the
    // algebraically-equal lo+(hi-lo)·f rounds differently in the last
    // ulp and breaks the hash gate)
    def interp(tag: String) = {
      val r = col(s"r_$tag")
      when(floor(r) === ceil(r), col(s"lo_$tag"))
        .otherwise((ceil(r) - r) * col(s"lo_$tag") +
          (r - floor(r)) * col(s"hi_$tag"))
    }
    val aggs = endpoints(0.5, "50") ++ endpoints(0.9, "90") ++ endpoints(0.99, "99")
    ranked.groupBy("o_orderpriority")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("o_orderpriority"),
        interp("50").as("p50"), interp("90").as("p90"), interp("99").as("p99"))
      .orderBy("o_orderpriority")
  }

  // q13 — gap-based sessionization (30-min inactivity) via lag + cumsum.
  val q13: QueryDef = QueryDef.sql(
    "q13_sessionize",
    """SELECT user_id, session_idx, min(event_id) AS first_event,
      |  count(*) AS n_events, round(sum(value), 3) AS session_value
      |FROM (
      |  SELECT user_id, event_id, value,
      |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM (
      |    SELECT user_id, event_id, ts, value,
      |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |        OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
      |        THEN 1 ELSE 0 END AS is_new
      |    FROM events) x) y
      |GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin) { (s, d) =>
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("prev_us", lag("ts_us", 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > 1800000000L, 1).otherwise(0))
      .withColumn("session_idx",
        sum("is_new").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(min("event_id").as("first_event"), count(lit(1)).as("n_events"),
        round(sum("value"), 3).as("session_value"))
      .orderBy("user_id", "session_idx")
  }

  // q14 — as-of join: for each 'error' event, the user's most recent
  // 'click' at-or-before it, via a running last-non-null (no pairwise
  // range join, scales linearly after one shuffle on user_id).
  val q14: QueryDef = QueryDef.sql(
    "q14_asof_join",
    """SELECT user_id, event_id AS error_id,
      |  last_click_id, last_click_us
      |FROM (
      |  SELECT user_id, event_id, event_type,
      |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id,
      |    last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us
      |  FROM events) t
      |WHERE event_type = 'error'
      |ORDER BY user_id, error_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("last_click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("last_click_us",
        last(when(col("event_type") === "click", col("ts_us")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"),
        col("last_click_id"), col("last_click_us"))
      .orderBy("user_id", "error_id")
  }

  // q15 — pivot: day × event_type count matrix (conditional aggregation —
  // one pass, no per-type scans).
  val q15: QueryDef = QueryDef.sql(
    "q15_pivot",
    """SELECT strftime(ts, '%Y-%m-%d') AS day,
      |  count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
      |  count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
      |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
      |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
      |  count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
      |FROM events
      |GROUP BY strftime(ts, '%Y-%m-%d')
      |ORDER BY day""".stripMargin) { (s, d) =>
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = Tables.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .pivot("event_type", types)
      .count()
      .na.fill(0L, types)
    types.foldLeft(pivoted)((df, t) => df.withColumnRenamed(t, s"n_$t"))
      .orderBy("day")
  }

  // q16 — JSON field extraction + aggregation over events.props.
  val q16: QueryDef = QueryDef.sql(
    "q16_json_extract",
    """SELECT event_type,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |  count(*) AS n
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val k = get_json_object(col("props"), "$.k").cast("long")
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(sum(k).as("sum_k"), max(k).as("max_k"), count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  // q17 — range-bucket join: static price bands ⨝ part on containment
  // (broadcast the tiny band table; at scale this is a broadcast
  // nested-loop over a constant-size side, i.e. still linear).
  val q17: QueryDef = QueryDef.sql(
    "q17_range_join",
    """SELECT band, count(*) AS n_parts,
      |  round(sum(CAST(p_retailprice AS DECIMAL(28,2))), 2)::double AS sum_price
      |FROM part
      |JOIN (VALUES ('b0', 900.0, 925.0), ('b1', 925.0, 950.0),
      |             ('b2', 950.0, 975.0), ('b3', 975.0, 1000.0))
      |  AS bands(band, lo, hi)
      |  ON p_retailprice >= lo AND p_retailprice < hi
      |GROUP BY band
      |ORDER BY band""".stripMargin) { (s, d) =>
    val bands = s.createDataFrame(Seq(
      ("b0", 900.0, 925.0), ("b1", 925.0, 950.0),
      ("b2", 950.0, 975.0), ("b3", 975.0, 1000.0)))
      .toDF("band", "lo", "hi")
    Tables.part(s, d)
      .join(broadcast(bands), col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_parts"),
        ExactSum.centSum(col("p_retailprice"), 2, 2).as("sum_price"))
      .orderBy("band")
  }

  // q18 — set operations: customers who ordered in both years (INTERSECT),
  // only-1997 (EXCEPT), either (UNION) — as per-nation counts.
  val q18: QueryDef = QueryDef.sql(
    "q18_set_ops",
    """WITH y97 AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
      |y98 AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00')
      |SELECT 'both' AS cohort, count(*) AS n FROM (SELECT * FROM y97 INTERSECT SELECT * FROM y98) t
      |UNION ALL
      |SELECT 'only97' AS cohort, count(*) AS n FROM (SELECT * FROM y97 EXCEPT SELECT * FROM y98) t
      |UNION ALL
      |SELECT 'either' AS cohort, count(*) AS n FROM (SELECT * FROM y97 UNION SELECT * FROM y98) t
      |ORDER BY cohort""".stripMargin) { (s, d) =>
    def year(y: Int) = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit(s"$y-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit(s"${y + 1}-01-01 00:00:00").cast("timestamp"))
      .select("o_custkey").distinct()
    val (y97, y98) = (year(1997), year(1998))
    val rows = Seq(
      ("both", y97.intersect(y98)),
      ("only97", y97.except(y98)),
      ("either", y97.union(y98).distinct()))
    rows.map { case (name, df) => df.agg(count(lit(1)).as("n")).select(lit(name).as("cohort"), col("n")) }
      .reduce(_.unionByName(_))
      .orderBy("cohort")
  }

  // q19 — ranking-window family: rank / dense_rank / lead / ntile over
  // supplier balances per nation.
  val q19: QueryDef = QueryDef.sql(
    "q19_rank_lead",
    """SELECT s_nationkey, s_suppkey, s_acctbal,
      |  CAST(rank() OVER w AS INTEGER) AS rnk,
      |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
      |  lead(s_suppkey, 1) OVER w AS next_supp,
      |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
      |FROM supplier
      |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
      |ORDER BY s_nationkey, rnk, s_suppkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("s_nationkey").orderBy(desc("s_acctbal"), asc("s_suppkey"))
    Tables.supplier(s, d)
      .select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal"),
        rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"),
        lead("s_suppkey", 1).over(w).as("next_supp"), ntile(4).over(w).as("quartile"))
      .orderBy("s_nationkey", "rnk", "s_suppkey")
  }

  // q90 — sketch aggregates for 100 TB cardinality work: HyperLogLog++
  // distinct counts and quantile sketches (approximate by design →
  // rows-only; exact counterparts are q09/q12).
  val q90: QueryDef = QueryDef.rowsOnly("q90_approx_sketches") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("approx_median"))
      .orderBy("l_returnflag")
  }

  // q91 — correlated scalar subquery through the spark.sql front-end:
  // customers above their own nation's average balance. Catalyst
  // decorrelates this into an aggregate + join; the oracle runs the
  // dialect-shared SQL verbatim.
  val q91: QueryDef = {
    val sqlText =
      """SELECT n_name, count(*) AS n_above
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > (SELECT round(avg(c2.c_acctbal), 4)
        |                   FROM customer c2
        |                   WHERE c2.c_nationkey = customer.c_nationkey)
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin
    QueryDef.sql("q91_correlated_subquery", sqlText) { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      s.sql(sqlText)
    }
  }

  // q92 — ordered funnel: signup → view → purchase per user, one
  // conditional-min aggregation pass (no per-step scans), exact µs
  // integer comparisons.
  val q92: QueryDef = QueryDef.sql(
    "q92_funnel",
    """SELECT
      |  count(ts_signup) AS n_signup,
      |  count(CASE WHEN ts_view > ts_signup THEN 1 END) AS n_signup_view,
      |  count(CASE WHEN ts_purchase > ts_view AND ts_view > ts_signup THEN 1 END) AS n_full_funnel
      |FROM (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS ts_signup,
      |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS ts_view,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS ts_purchase
      |  FROM events
      |  GROUP BY user_id) u""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "signup", col("ts_us"))).as("ts_signup"),
        min(when(col("event_type") === "view", col("ts_us"))).as("ts_view"),
        min(when(col("event_type") === "purchase", col("ts_us"))).as("ts_purchase"))
      .agg(
        count(col("ts_signup")).as("n_signup"),
        count(when(col("ts_view") > col("ts_signup"), 1)).as("n_signup_view"),
        count(when(col("ts_purchase") > col("ts_view") && col("ts_view") > col("ts_signup"), 1))
          .as("n_full_funnel"))
  }

  // q93 — weekly retention cohorts: users grouped by first-seen week,
  // counted per active week. Two aggregations (first-seen per user, then
  // cohort×week distinct users) — both shuffle on bounded keys.
  val q93: QueryDef = QueryDef.sql(
    "q93_retention_cohorts",
    """WITH first_seen AS (
      |  SELECT user_id, strftime(date_trunc('week', min(ts)), '%Y-%m-%d') AS cohort_week
      |  FROM events GROUP BY user_id),
      |activity AS (
      |  SELECT DISTINCT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d') AS active_week
      |  FROM events)
      |SELECT cohort_week, active_week, count(*) AS n_users
      |FROM first_seen JOIN activity USING (user_id)
      |GROUP BY cohort_week, active_week
      |ORDER BY cohort_week, active_week""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val firstSeen = ev.groupBy("user_id")
      .agg(date_format(date_trunc("week", min("ts")), "yyyy-MM-dd").as("cohort_week"))
    val activity = ev
      .select(col("user_id"), date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("active_week"))
      .distinct()
    firstSeen.join(activity, "user_id")
      .groupBy("cohort_week", "active_week")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "active_week")
  }

  // q94 — event-time RANGE-frame window: per user, the trailing-1-hour
  // value sum at every event. Unlike the ROWS frames of q08, the frame
  // bound is a TIME interval — peers at equal timestamps are all
  // included, so the result is deterministic under any row order. One
  // shuffle on user_id; frames never materialize beyond the sliding
  // buffer.
  val q94: QueryDef = QueryDef.sql(
    "q94_range_window",
    """SELECT event_id, user_id,
      |  round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 2) AS trailing_1h
      |FROM events
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-3600000000L, 0)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        round(sum("value").over(w), 2).as("trailing_1h"))
      .orderBy("event_id")
  }

  // q95 — calendar gap-fill + carry-forward (LOCF): the per-(day, type)
  // revenue series joined onto a generated date spine, missing days
  // filled with the last observed value — the standard shape for
  // time-series feature tables. The spine is O(days·types); the carry
  // is one window per type.
  val q95: QueryDef = QueryDef.sql(
    "q95_gap_fill",
    """WITH bounds AS (
      |  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM events),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
      |types AS (SELECT DISTINCT event_type FROM events),
      |daily AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type,
      |    round(sum(CAST(value AS DECIMAL(28,2))), 2)::double AS rev
      |  FROM events GROUP BY 1, 2),
      |grid AS (SELECT s.day, t.event_type FROM spine s, types t),
      |j AS (
      |  SELECT g.day, g.event_type, d.rev
      |  FROM grid g LEFT JOIN daily d ON g.day = d.day AND g.event_type = d.event_type)
      |SELECT strftime(day, '%Y-%m-%d') AS day, event_type,
      |  (rev IS NOT NULL) AS has_data,
      |  last_value(rev IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev_filled
      |FROM j
      |ORDER BY day, event_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).withColumn("day", to_date(col("ts")))
    val bounds = ev.agg(min("day").as("lo"), max("day").as("hi"))
    val spine = bounds.select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val types = ev.select("event_type").distinct()
    val grid = spine.crossJoin(broadcast(types))
    val daily = ev.groupBy("day", "event_type")
      .agg(ExactSum.centSum(col("value"), 2, 2).as("rev"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("day", "event_type"), "left")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("event_type"),
        col("rev").isNotNull.as("has_data"),
        last(col("rev"), ignoreNulls = true).over(w).as("rev_filled"))
      .orderBy("day", "event_type")
  }

  // q96 — event-RATE ANOMALY detection: hourly counts per event_type,
  // each hour z-scored against its own trailing-24-hour window. The
  // moments come from exact integer sums over the ROWS frame
  // (n, Σcnt, Σcnt²) so mean/variance are single IEEE divisions both
  // engines compute identically — no engine-specific Welford stream.
  // Scale shape: the corpus collapses to O(types·hours) rows at the
  // first aggregate (map-side partial), and the window shuffles only
  // that tiny series, keyed by event_type.
  val q96: QueryDef = QueryDef.sql(
    "q96_anomaly_events",
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hr,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, hr, cnt,
      |    COUNT(cnt) OVER tw AS n24,
      |    SUM(cnt) OVER tw AS s,
      |    SUM(cnt * cnt) OVER tw AS ss
      |  FROM hourly
      |  WINDOW tw AS (PARTITION BY event_type ORDER BY hr
      |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
      |m AS (
      |  SELECT event_type, hr, cnt, n24,
      |    CASE WHEN n24 >= 2 THEN CAST(s AS DOUBLE) / n24 END AS mean24,
      |    CASE WHEN n24 >= 2
      |      THEN (ss - CAST(s AS DOUBLE) * s / n24) / (n24 - 1) END AS v
      |  FROM w)
      |SELECT event_type, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hr, cnt,
      |  CAST(n24 AS INTEGER) AS n24, mean24,
      |  CASE WHEN v > 0 THEN (cnt - mean24) / sqrt(v) END AS z,
      |  COALESCE(CASE WHEN v > 0 THEN (cnt - mean24) / sqrt(v) END > 3,
      |    FALSE) AS is_anomaly
      |FROM m
      |ORDER BY event_type, hr""".stripMargin) { (s, d) =>
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("cnt"))
    val tw = Window.partitionBy("event_type").orderBy("hr")
      .rowsBetween(-24, -1)
    // ANSI divide-by-zero guard: every division sits inside a lazy
    // when(n24 >= 2, …) branch (CaseWhen codegen is branch-lazy), which
    // also matches DuckDB's NULL-on-zero-denominator semantics.
    val mean = when(col("n24") >= 2, col("s").cast("double") / col("n24"))
    val variance = when(col("n24") >= 2,
      (col("ss") - col("s").cast("double") * col("s") / col("n24")) /
        (col("n24") - 1))
    val z = when(variance > 0, (col("cnt") - mean) / sqrt(variance))
    hourly
      .select(col("event_type"), col("hr"), col("cnt"),
        count("cnt").over(tw).as("n24"),
        sum("cnt").over(tw).as("s"),
        sum(col("cnt") * col("cnt")).over(tw).as("ss"))
      .select(col("event_type"),
        date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hr"), col("cnt"),
        col("n24").cast("int").as("n24"),
        mean.as("mean24"), z.as("z"),
        coalesce(z > 3, lit(false)).as("is_anomaly"))
      .orderBy("event_type", "hr")
  }

  // q97 — CUBE over (returnflag, ship-year) with explicit GROUPING
  // flags: all four aggregation levels in one pass (the full-lattice
  // complement to q10's rollup hierarchy). Spark expands the lattice
  // map-side and partially aggregates before the single
  // O(groups·levels) exchange — the cube never re-scans the fact per
  // level.
  val q97: QueryDef = QueryDef.sql(
    "q97_cube_summary",
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(CAST(year(l_shipdate) AS INTEGER), -1) AS shipyear,
      |  CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
      |  CAST(grouping(year(l_shipdate)) AS INTEGER) AS g_year,
      |  count(*) AS n_rows,
      |  round(sum(CAST(l_extendedprice AS DECIMAL(28,2))), 2)::double AS sum_price
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, year(l_shipdate))
      |ORDER BY g_flag, g_year, returnflag, shipyear""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .withColumn("shipyear", year(col("l_shipdate")))
      .cube("l_returnflag", "shipyear")
      .agg(count(lit(1)).as("n_rows"),
        ExactSum.centSum(col("l_extendedprice"), 2, 2).as("sum_price"),
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("shipyear")).cast("int").as("g_year"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("shipyear"), lit(-1)).as("shipyear"),
        col("g_flag"), col("g_year"), col("n_rows"), col("sum_price"))
      .orderBy("g_flag", "g_year", "returnflag", "shipyear")
  }

  // q106 — DATA-QUALITY CONSTRAINT VALIDATION (the Deequ/expectations
  // staple): a rule table over the fact table, verified in ONE corpus
  // scan — every column rule is a conditional map-side sum in the same
  // aggregate, so adding rules never adds passes — plus one broadcast
  // anti-join for referential integrity (orphan lineitems). At 100 TB
  // that is the only honest shape: N rules cost one scan, and the FK
  // check streams the fact side against the broadcast key set. The
  // oracle recomputes every count from scratch in DuckDB.
  val q106: QueryDef = QueryDef.sql(
    "q106_data_quality",
    """WITH checks AS (
      |  SELECT
      |    CAST(COUNT(*) AS BIGINT) AS checked,
      |    CAST(SUM(CASE WHEN NOT (l_quantity >= 0) THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
      |    CAST(SUM(CASE WHEN NOT (l_discount BETWEEN 0 AND 1) THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
      |    CAST(SUM(CASE WHEN NOT (l_extendedprice > 0) THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
      |    CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ship,
      |    CAST(SUM(CASE WHEN NOT (l_returnflag IN ('A', 'N', 'R')) THEN 1 ELSE 0 END) AS BIGINT) AS v_flag
      |  FROM lineitem),
      |orphans AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS v, CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n
      |  FROM lineitem l WHERE NOT EXISTS
      |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |SELECT rule, violations, checked, violations = 0 AS pass FROM (
      |  SELECT 'discount_in_unit_range' AS rule, v_disc AS violations, checked FROM checks
      |  UNION ALL SELECT 'extendedprice_positive', v_price, checked FROM checks
      |  UNION ALL SELECT 'orderkey_fk_orders', v, n FROM orphans
      |  UNION ALL SELECT 'quantity_nonnegative', v_qty, checked FROM checks
      |  UNION ALL SELECT 'returnflag_in_domain', v_flag, checked FROM checks
      |  UNION ALL SELECT 'shipdate_not_null', v_ship, checked FROM checks)
      |ORDER BY rule""".stripMargin) { (s, d) =>
    import s.implicits._
    val li = Tables.lineitem(s, d)
    def viol(name: String, bad: org.apache.spark.sql.Column) =
      sum(when(bad, 1L).otherwise(0L)).as(name)
    val checks = li.agg(
      count(lit(1)).as("checked"),
      viol("v_qty", !(col("l_quantity") >= 0)),
      viol("v_disc", !(col("l_discount").between(0, 1))),
      viol("v_price", !(col("l_extendedprice") > 0)),
      viol("v_ship", col("l_shipdate").isNull),
      viol("v_flag", !col("l_returnflag").isin("A", "N", "R")))
    val orphans = li.select("l_orderkey")
      .join(broadcast(Tables.orders(s, d).select("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
      .crossJoin(checks.select(col("checked").as("n")))
    val unpivoted = checks.selectExpr(
      "stack(5, " +
        "'quantity_nonnegative', v_qty, " +
        "'discount_in_unit_range', v_disc, " +
        "'extendedprice_positive', v_price, " +
        "'shipdate_not_null', v_ship, " +
        "'returnflag_in_domain', v_flag) AS (rule, violations)",
      "checked")
      .unionByName(orphans.select(lit("orderkey_fk_orders").as("rule"),
        col("v").as("violations"), col("n").as("checked")))
    unpivoted
      .select(col("rule"), col("violations"), col("checked"),
        (col("violations") === 0L).as("pass"))
      .orderBy("rule")
  }

  // q108 — JOIN-KEY SKEW DIAGNOSIS: the report an engineer reads before
  // choosing saltedJoin vs AQE skew-split (ScaleJoins). First level is
  // the one real shuffle (count per key, map-side partials); everything
  // after runs on the O(keys) count table — exact percentiles over
  // counts, max/median skew factor, and the heavy-hitter keys that
  // would own the hot partitions. Oracle recomputes the whole report.
  val q108: QueryDef = QueryDef.sql(
    "q108_skew_report",
    """WITH c AS (
      |  SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY l_orderkey),
      |s AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
      |    CAST(MAX(cnt) AS BIGINT) AS max_cnt,
      |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt) AS BIGINT) AS p50_cnt,
      |    CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY cnt) AS BIGINT) AS p99_cnt
      |  FROM c),
      |top AS (
      |  SELECT k, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, k) AS INTEGER) AS rk
      |  FROM c ORDER BY cnt DESC, k LIMIT 3)
      |SELECT t.rk, t.k AS heavy_key, t.cnt AS heavy_cnt,
      |  s.n_keys, s.max_cnt, s.p50_cnt, s.p99_cnt,
      |  ROUND(CAST(s.max_cnt AS DOUBLE) / s.p50_cnt, 4) AS skew_factor
      |FROM top t, s ORDER BY t.rk""".stripMargin) { (s, d) =>
    val c = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("cnt"))
    val stats = c.agg(
      count(lit(1)).as("n_keys"),
      max(col("cnt")).as("max_cnt"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt)").cast("bigint").as("p50_cnt"),
      expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY cnt)").cast("bigint").as("p99_cnt"))
    c.orderBy(desc("cnt"), asc("k")).limit(3)
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("cnt"), asc("k"))).cast("int"))
      .crossJoin(broadcast(stats))
      .select(col("rk"), col("k").as("heavy_key"), col("cnt").as("heavy_cnt"),
        col("n_keys"), col("max_cnt"), col("p50_cnt"), col("p99_cnt"),
        round(col("max_cnt").cast("double") / col("p50_cnt"), 4).as("skew_factor"))
      .orderBy("rk")
  }

  // q110 — SCD2 DIMENSION HISTORY: the slowly-changing-dimension build.
  // Each order is a state change for its customer; the history table
  // assigns every version a [valid_from, valid_to) interval via lead()
  // over the per-customer timeline, open-ended (is_current) on the
  // latest. One window shuffle on the dimension key — at 100 TB the
  // history build shuffles the CHANGE LOG, never a fact table. Interval
  // edges leave as formatted strings so both engines hash identically.
  val q110: QueryDef = QueryDef.sql(
    "q110_scd2_history",
    """SELECT o_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
      |  coalesce(strftime(lead(o_orderdate) OVER w, '%Y-%m-%d'), '9999-12-31') AS valid_to,
      |  (lead(o_orderdate) OVER w IS NULL) AS is_current,
      |  round(o_totalprice, 2) AS state_totalprice
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, d)
      .withColumn("nxt", lead(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
        coalesce(date_format(col("nxt"), "yyyy-MM-dd"), lit("9999-12-31"))
          .as("valid_to"),
        col("nxt").isNull.as("is_current"),
        round(col("o_totalprice"), 2).as("state_totalprice"))
      .orderBy("o_custkey", "valid_from", "o_orderkey")
  }

  // q111 — TABLE DIFF / CDC EXTRACTION: given two snapshots of a keyed
  // table, emit the change set (insert / update / delete with old and
  // new values) — what a data platform computes when upstream can't
  // produce a change log. Both snapshots are deterministic slices of
  // orders (old: keys %10 != 0; new: keys %10 != 1, prices drifted on
  // %7 == 0), so the oracle constructs them identically. ONE full-outer
  // shuffle join on the key; change classification is a projection. At
  // scale both sides would be bucketed on the key (q104's snapshot
  // treatment) and the join goes exchange-free.
  val q111: QueryDef = QueryDef.sql(
    "q111_table_diff",
    """WITH old_snap AS (
      |  SELECT o_orderkey AS k, round(o_totalprice, 2) AS price
      |  FROM orders WHERE o_orderkey % 10 != 0),
      |new_snap AS (
      |  SELECT o_orderkey AS k,
      |    round(o_totalprice + CASE WHEN o_orderkey % 7 = 0 THEN 10.0 ELSE 0.0 END, 2) AS price
      |  FROM orders WHERE o_orderkey % 10 != 1)
      |SELECT coalesce(o.k, n.k) AS k,
      |  CASE WHEN o.k IS NULL THEN 'insert'
      |       WHEN n.k IS NULL THEN 'delete'
      |       ELSE 'update' END AS change_type,
      |  o.price AS old_price, n.price AS new_price
      |FROM old_snap o FULL OUTER JOIN new_snap n ON o.k = n.k
      |WHERE o.k IS NULL OR n.k IS NULL OR o.price != n.price
      |ORDER BY k""".stripMargin) { (s, d) =>
    val orders = Tables.orders(s, d)
    val oldSnap = orders.filter(col("o_orderkey") % 10 =!= 0)
      .select(col("o_orderkey").as("k"),
        round(col("o_totalprice"), 2).as("old_price"))
    val newSnap = orders.filter(col("o_orderkey") % 10 =!= 1)
      .select(col("o_orderkey").as("k"),
        round(col("o_totalprice") +
          when(col("o_orderkey") % 7 === 0, 10.0).otherwise(0.0), 2)
          .as("new_price"))
    oldSnap.join(newSnap, Seq("k"), "full_outer")
      .withColumn("change_type",
        when(col("old_price").isNull, "insert")
          .when(col("new_price").isNull, "delete")
          .otherwise("update"))
      .filter(col("old_price").isNull || col("new_price").isNull ||
        col("old_price") =!= col("new_price"))
      .select(col("k"), col("change_type"), col("old_price"), col("new_price"))
      .orderBy("k")
  }

  // q112 — MULTI-TOUCH ATTRIBUTION: every purchase's value is shared
  // across the user's view touches in the trailing 1-day window —
  // linear credit (value/n per touch, one IEEE division per row, so no
  // rounding is needed for engine parity) plus a recency rank that a
  // position-weighted model would consume. Purchases with no touches
  // surface as rank-0 orphan rows (left join), which is the number a
  // marketing pipeline actually audits. The user-keyed range join is
  // the q82 interval shape run as a batch; the per-purchase window runs
  // over the O(purchases × touches-in-window) join output, never the
  // raw event stream.
  val q112: QueryDef = QueryDef.sql(
    "q112_touch_attribution",
    """WITH p AS (
      |  SELECT event_id AS pid, user_id, ts AS pts, value
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT event_id AS tid, user_id, ts AS tts
      |  FROM events WHERE event_type = 'view'),
      |j AS (
      |  SELECT p.user_id, p.pid, p.value, t.tid, t.tts
      |  FROM p LEFT JOIN t ON p.user_id = t.user_id
      |    AND t.tts >= p.pts - INTERVAL 1 DAY AND t.tts < p.pts),
      |r AS (
      |  SELECT user_id, pid, tid,
      |    CASE WHEN tid IS NULL THEN 0 ELSE
      |      CAST(row_number() OVER (PARTITION BY pid ORDER BY tts DESC, tid) AS INTEGER)
      |    END AS touch_rank,
      |    CAST(COUNT(tid) OVER (PARTITION BY pid) AS INTEGER) AS n_touches,
      |    value
      |  FROM j)
      |SELECT user_id, pid, tid, touch_rank, n_touches,
      |  value / nullif(n_touches, 0) AS credit
      |FROM r ORDER BY pid, touch_rank""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"),
        col("ts").as("pts"), col("value"))
    val t = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("tid"), col("user_id").as("t_user"),
        col("ts").as("tts"))
    val byRecency = Window.partitionBy("pid").orderBy(desc("tts"), asc("tid"))
    p.join(t, col("user_id") === col("t_user") &&
        col("tts") >= col("pts") - expr("INTERVAL 1 DAY") &&
        col("tts") < col("pts"), "left")
      .withColumn("n_touches", count("tid").over(Window.partitionBy("pid")).cast("int"))
      .withColumn("touch_rank",
        when(col("tid").isNull, 0)
          .otherwise(row_number().over(byRecency)).cast("int"))
      .select(col("user_id"), col("pid"), col("tid"),
        col("touch_rank"), col("n_touches"),
        (col("value") / nullif(col("n_touches"), lit(0))).as("credit"))
      .orderBy("pid", "touch_rank")
  }

  // q113 — EVENT TRANSITION MATRIX (first-order Markov model of user
  // behavior): consecutive same-user events within a 30-minute gap form
  // a transition; counts normalize per from-state into probabilities.
  // One window shuffle on user (the sequence), one tiny groupBy on the
  // (from, to) pairs — the model itself is O(|event types|²) rows no
  // matter the corpus. Probabilities are one BIGINT/DOUBLE division per
  // output row, so the oracle hash-matches unrounded.
  val q113: QueryDef = QueryDef.sql(
    "q113_transition_matrix",
    """WITH seq AS (
      |  SELECT event_type AS from_t,
      |    lead(event_type) OVER w AS to_t,
      |    ts, lead(ts) OVER w AS to_ts
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |c AS (
      |  SELECT from_t, to_t, CAST(count(*) AS BIGINT) AS n
      |  FROM seq
      |  WHERE to_t IS NOT NULL AND to_ts <= ts + INTERVAL 30 MINUTE
      |  GROUP BY from_t, to_t)
      |SELECT from_t, to_t, n,
      |  n / CAST(SUM(n) OVER (PARTITION BY from_t) AS DOUBLE) AS p
      |FROM c ORDER BY from_t, to_t""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val c = Tables.events(s, d)
      .select(col("event_type").as("from_t"), col("ts"),
        lead(col("event_type"), 1).over(w).as("to_t"),
        lead(col("ts"), 1).over(w).as("to_ts"))
      .filter(col("to_t").isNotNull &&
        col("to_ts") <= col("ts") + expr("INTERVAL 30 MINUTES"))
      .groupBy("from_t", "to_t").agg(count(lit(1)).as("n"))
    c.withColumn("p",
        col("n") / sum("n").over(Window.partitionBy("from_t")).cast("double"))
      .orderBy("from_t", "to_t")
  }

  // q142 — TEMPORAL TRAIN/TEST SPLIT with the leakage audit: behavioral
  // data must split on TIME (q23's random split leaks the future into
  // training); cutoff = min + 80% of the corpus time span (exact bigint
  // µs arithmetic — identical IEEE in both engines, unlike a percentile
  // whose interpolation semantics vary). One row out: event/user counts
  // per side, warm users (seen in both — fine for features, leakage if
  // labels join on them) and the warm-test-event fraction (how much of
  // eval is returning users — the cold-start exposure number). Scale
  // shape: a 1-row bounds aggregate broadcasts back (never a global
  // sort), then ONE user-keyed shuffle builds the per-user split
  // profile; the final rollup moves O(users) rows into one row.
  val q142: QueryDef = QueryDef.sql(
    "q142_temporal_split",
    """WITH b AS (
      |  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events),
      |tagged AS (
      |  SELECT user_id, epoch_us(ts) AS tus,
      |    b.lo + CAST(floor((b.hi - b.lo) * 0.8) AS BIGINT) AS cutoff
      |  FROM events, b),
      |u AS (
      |  SELECT user_id,
      |    max(CASE WHEN tus < cutoff THEN 1 ELSE 0 END) AS in_train,
      |    max(CASE WHEN tus >= cutoff THEN 1 ELSE 0 END) AS in_test,
      |    sum(CASE WHEN tus < cutoff THEN 1 ELSE 0 END) AS n_train_ev,
      |    sum(CASE WHEN tus >= cutoff THEN 1 ELSE 0 END) AS n_test_ev
      |  FROM tagged GROUP BY user_id)
      |SELECT
      |  CAST(sum(n_train_ev) AS BIGINT) AS n_train,
      |  CAST(sum(n_test_ev) AS BIGINT) AS n_test,
      |  CAST(sum(in_train) AS BIGINT) AS train_users,
      |  CAST(sum(in_test) AS BIGINT) AS test_users,
      |  CAST(sum(CASE WHEN in_train = 1 AND in_test = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS warm_users,
      |  sum(CASE WHEN in_train = 1 THEN n_test_ev ELSE 0 END)
      |    / CAST(sum(n_test_ev) AS DOUBLE) AS warm_test_frac
      |FROM u""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select(col("user_id"), col("ts_us"))
    val bounds = ev.agg(min("ts_us").as("lo"), max("ts_us").as("hi"))
    val tagged = ev.crossJoin(broadcast(bounds))
      .select(col("user_id"), col("ts_us"),
        (col("lo") + floor((col("hi") - col("lo")) * 0.8).cast("bigint"))
          .as("cutoff"))
    tagged
      .groupBy("user_id")
      .agg(
        max(when(col("ts_us") < col("cutoff"), 1).otherwise(0)).as("in_train"),
        max(when(col("ts_us") >= col("cutoff"), 1).otherwise(0)).as("in_test"),
        sum(when(col("ts_us") < col("cutoff"), 1).otherwise(0)).as("n_train_ev"),
        sum(when(col("ts_us") >= col("cutoff"), 1).otherwise(0)).as("n_test_ev"))
      .agg(
        sum("n_train_ev").cast("bigint").as("n_train"),
        sum("n_test_ev").cast("bigint").as("n_test"),
        sum("in_train").cast("bigint").as("train_users"),
        sum("in_test").cast("bigint").as("test_users"),
        sum(when(col("in_train") === 1 && col("in_test") === 1, 1).otherwise(0))
          .cast("bigint").as("warm_users"),
        (sum(when(col("in_train") === 1, col("n_test_ev")).otherwise(0))
          / sum("n_test_ev").cast("double")).as("warm_test_frac"))
  }

  // q143 — EVENT PATH MINING: the top user-journey trigrams (q113's
  // pairwise transitions extended to 3-step paths under the same 30-min
  // session gap) — the behavioral-corpus view of "what sequences does
  // this product actually produce", and the target distribution for a
  // next-event model. One user-keyed window shuffle produces the
  // lead-2 sequence; the path groupBy is bounded by |types|³ keys with
  // map-side partials, and top-20 is TakeOrderedAndProject.
  val q143: QueryDef = QueryDef.sql(
    "q143_event_paths",
    """WITH seq AS (
      |  SELECT event_type AS t1,
      |    lead(event_type, 1) OVER w AS t2,
      |    lead(event_type, 2) OVER w AS t3,
      |    epoch_us(ts) AS ts1,
      |    epoch_us(lead(ts, 1) OVER w) AS ts2,
      |    epoch_us(lead(ts, 2) OVER w) AS ts3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT t1 || '>' || t2 || '>' || t3 AS path, CAST(count(*) AS BIGINT) AS n
      |FROM seq
      |WHERE t3 IS NOT NULL
      |  AND ts2 <= ts1 + 1800000000 AND ts3 <= ts2 + 1800000000
      |GROUP BY 1
      |ORDER BY n DESC, path
      |LIMIT 20""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("event_type").as("t1"),
        lead(col("event_type"), 1).over(w).as("t2"),
        lead(col("event_type"), 2).over(w).as("t3"),
        col("ts_us").as("ts1"),
        lead(col("ts_us"), 1).over(w).as("ts2"),
        lead(col("ts_us"), 2).over(w).as("ts3"))
      .filter(col("t3").isNotNull &&
        col("ts2") <= col("ts1") + 1800000000L &&
        col("ts3") <= col("ts2") + 1800000000L)
      .select(concat_ws(">", col("t1"), col("t2"), col("t3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("path"))
      .limit(20)
  }

  // q147 — SEASONALITY-ADJUSTED anomaly scan: q96 z-scores an hour
  // against its TRAILING window (catches step changes, but a Monday-9am
  // spike looks anomalous every week); this one scores each concrete
  // hour against its (day-of-week, hour-of-day) SEASONAL baseline over
  // the whole span, so recurring weekly structure is the null model and
  // only deviations FROM the pattern surface. Calendar keys are pure
  // integer epoch arithmetic ((days+3) mod 7, 0=Monday) — engine-exact,
  // sidestepping the Spark-vs-DuckDB dayofweek convention mismatch.
  // Scale shape: the corpus collapses to O(hours·types) rows in ONE
  // map-side-partial shuffle; the 7·24·types profile joins back
  // aggregate-to-aggregate (broadcast); top-20 is TakeOrdered.
  val q147: QueryDef = QueryDef.sql(
    "q147_seasonal_anomaly",
    """WITH hourly AS (
      |  SELECT event_type,
      |    epoch_us(ts) // 3600000000 AS hour_idx,
      |    ((epoch_us(ts) // 86400000000) + 3) % 7 AS dow,
      |    (epoch_us(ts) // 3600000000) % 24 AS hod,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events
      |  GROUP BY 1, 2, 3, 4),
      |prof AS (
      |  SELECT event_type, dow, hod,
      |    avg(CAST(n AS DOUBLE)) AS seasonal_mean,
      |    CAST(count(*) AS BIGINT) AS n_weeks
      |  FROM hourly GROUP BY 1, 2, 3)
      |SELECT h.event_type, h.hour_idx, h.n,
      |  round(p.seasonal_mean, 6) AS seasonal_mean,
      |  round(h.n / p.seasonal_mean, 6) AS ratio
      |FROM hourly h JOIN prof p
      |  ON h.event_type = p.event_type AND h.dow = p.dow AND h.hod = p.hod
      |WHERE p.n_weeks >= 2
      |ORDER BY h.n / p.seasonal_mean DESC, h.event_type, h.hour_idx
      |LIMIT 20""".stripMargin) { (s, d) =>
    val hourly = Tables.events(s, d)
      .select(col("event_type"),
        expr("ts_us div 3600000000").as("hour_idx"),
        expr("((ts_us div 86400000000) + 3) % 7").as("dow"),
        expr("(ts_us div 3600000000) % 24").as("hod"))
      .groupBy("event_type", "hour_idx", "dow", "hod")
      .agg(count(lit(1)).as("n"))
    val prof = hourly.groupBy("event_type", "dow", "hod")
      .agg(avg(col("n").cast("double")).as("seasonal_mean"),
        count(lit(1)).as("n_weeks"))
    hourly.join(broadcast(prof), Seq("event_type", "dow", "hod"))
      .filter(col("n_weeks") >= 2)
      .select(col("event_type"), col("hour_idx"), col("n"),
        round(col("seasonal_mean"), 6).as("seasonal_mean"),
        round(col("n") / col("seasonal_mean"), 6).as("ratio"),
        (col("n") / col("seasonal_mean")).as("rawratio"))
      .orderBy(desc("rawratio"), asc("event_type"), asc("hour_idx"))
      .limit(20)
      .drop("rawratio")
  }

  // q163 — CLUSTERED-LAYOUT PRUNING audit ("is the layout actually
  // buying file skips for my hot predicates" — the measurement a layout
  // decision needs before paying the clustering write): the events table
  // is staged ONCE per corpus (memoized) in three 16-file layouts —
  // arrival order (sorted by event_id ≈ time order: tight ts ranges,
  // user_id spread everywhere), Morton-clustered and Hilbert-clustered
  // on (user_id, ts_us) — and TWO centered 10%-band probes are tested
  // against each file's min/max bounding box, exactly the footer-stats
  // pruning a reader performs: a TIME band (the reporting query — the
  // shape arrival order serves perfectly) and a USER band over all time
  // (the user-history lookup — the shape arrival order cannot prune AT
  // ALL because every file spans all users). The 6-row matrix is the
  // whole layout lesson: single-dim sort wins its own dimension and
  // loses the other outright; the space-filling curves buy bounded reads
  // on BOTH axes, with Hilbert beating Morton at mid-range bands (the
  // center-seam pathology ZOrder's scaladoc documents). Per-file stats
  // here come from one grouped scan of each staging (free footer
  // metadata at warehouse scale — the audit's only corpus-proportional
  // cost is the one-time staging write). Layout-dependent → rows-only.
  val q163: QueryDef = QueryDef.rowsOnly("q163_zorder_pruning_audit") { (s, d) =>
    val base = s"${s.sessionState.conf.warehousePath}/graft-zaudit/${graft.Memos.pathToken(d)}"
    val (natPath, mPath, hPath) =
      (s"$base/natural", s"$base/morton", s"$base/hilbert")
    zAuditStaged((s, d)) {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      graft.sources.ZOrder.byRange(ev, "event_id", 16, graft.Regime.rows(s, d, "events"))
        .write.mode("overwrite").parquet(natPath)
      graft.sources.ZOrder.writeZOrderedN(ev, mPath, Seq("user_id", "ts_us"), 16)
      graft.sources.ZOrder.writeZOrderedN(ev, hPath, Seq("user_id", "ts_us"), 16,
        curve = "hilbert")
      true
    }
    // probe rectangle: the centered 10% band in each dimension, from a
    // 1-row bounds aggregate (driver read of a constant-size result)
    val b = Tables.events(s, d).agg(
      min("user_id"), max("user_id"), min("ts_us"), max("ts_us")).head()
    val (ulo, uhi) = (b.getLong(0), b.getLong(1))
    val (tlo, thi) = (b.getLong(2), b.getLong(3))
    def band(lo: Long, hi: Long): (Long, Long) = {
      val span = hi - lo
      (lo + (span * 45L) / 100L, lo + (span * 55L) / 100L)
    }
    val (u1, u2) = band(ulo, uhi)
    val (t1, t2) = band(tlo, thi)
    def audit(path: String, layout: String) = {
      val stats = s.read.parquet(path)
        .select(input_file_name().as("f"), col("user_id"), col("ts_us"))
        .groupBy("f")
        .agg(min("user_id").as("umin"), max("user_id").as("umax"),
          min("ts_us").as("tmin"), max("ts_us").as("tmax"))
      val timeHit = col("tmin") <= t2 && col("tmax") >= t1
      val userHit = col("umin") <= u2 && col("umax") >= u1
      stats.agg(
        count(lit(1)).as("files"),
        sum(when(timeHit, 1L).otherwise(0L)).as("time_hits"),
        sum(when(userHit, 1L).otherwise(0L)).as("user_hits"))
        .select(explode(array(
          struct(lit(layout).as("layout"), lit("time_band").as("probe"),
            col("files"), col("time_hits").as("files_hit")),
          struct(lit(layout).as("layout"), lit("user_band").as("probe"),
            col("files"), col("user_hits").as("files_hit")))).as("r"))
        .select(col("r.layout"), col("r.probe"), col("r.files"),
          col("r.files_hit"),
          round(col("r.files_hit").cast("double") / col("r.files"), 6)
            .as("hit_fraction"))
    }
    audit(natPath, "natural")
      .unionByName(audit(mPath, "morton"))
      .unionByName(audit(hPath, "hilbert"))
      .orderBy("probe", "layout")
  }

  private val zAuditStaged =
    new graft.Memo[(SparkSession, String), Boolean]("relational.zAuditStaged")

  // q164 — QUANTILE-SKETCH calibration audit (the third member of the
  // sketch-honesty family: q145 calibrates MinHash, q158 the IVF index,
  // this one approx_percentile's GK-style rank guarantee — "is the
  // sketch's 1/accuracy error bar real on MY distribution, and what does
  // more accuracy buy"): per group, sketch quantiles at three accuracy
  // levels ride ONE aggregate pass; the exact rank interval of each
  // returned value comes from q12's (group, value, count) cumulative
  // table by an equality join (the sketch returns REAL data values, so
  // its rank interval is a lookup, not a search); rank_err = distance
  // from the target quantile to the value's [cum_start, cum_end]/n span,
  // asserted ≤ 2/accuracy — the MERGED-summary contract: each partition's
  // GK-style summary guarantees ε = 1/accuracy, but the per-partition
  // merge-then-compress path is only bounded within a constant factor of
  // nominal, and the audit's own measurements show it (≤0.96ε at low
  // accuracies everywhere, 1.003ε once at accuracy 10⁴ under the r9 sf1
  // checkpoint's higher partition fan-in — exactly the fan-in a real
  // cluster has). rank_err stays reported raw, so the nominal-ε margin
  // is always readable from the output. Scale shape: the count table is the only
  // corpus-sized shuffle (shared shape with q12), sketch aggregation is
  // map-side bounded buffers, the audit join moves O(groups·quantiles·
  // accuracies) rows. Sketch internals are engine-specific → rows-only;
  // the BOUND is the spec's contract.
  val q164: QueryDef = QueryDef.rowsOnly("q164_quantile_sketch_audit") { (s, d) =>
    val qs = Seq(0.5, 0.95)
    val accs = Seq(100, 1000, 10000)
    val counts = Tables.orders(s, d)
      .groupBy("o_orderpriority", "o_totalprice")
      .agg(count(lit(1)).as("cnt"))
    val byPrice = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    val run = byPrice.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = byPrice.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = counts
      .withColumn("cum_end", sum("cnt").over(run))
      .withColumn("cum_start", col("cum_end") - col("cnt"))
      .withColumn("n", sum("cnt").over(whole))
    // exact DISCRETE quantiles (value at rank ceil(q·n)) for reference
    val exact = ranked.groupBy("o_orderpriority").agg(
      qs.map(q => min(when(col("cum_end") >= ceil(lit(q) * col("n")),
        col("o_totalprice"))).as(s"ex_${(q * 100).toInt}")).head,
      qs.map(q => min(when(col("cum_end") >= ceil(lit(q) * col("n")),
        col("o_totalprice"))).as(s"ex_${(q * 100).toInt}")).tail: _*)
    // all sketch levels in one aggregate pass
    val sk = Tables.orders(s, d).groupBy("o_orderpriority").agg(
      accs.map(a => percentile_approx(col("o_totalprice"),
        array(qs.map(lit): _*), lit(a)).as(s"pa_$a")).head,
      accs.map(a => percentile_approx(col("o_totalprice"),
        array(qs.map(lit): _*), lit(a)).as(s"pa_$a")).tail: _*)
    val skRows = sk.select(col("o_orderpriority"),
      explode(array((for { a <- accs; (q, qi) <- qs.zipWithIndex } yield
        struct(lit(a).as("accuracy"), lit(q).as("quantile"),
          col(s"pa_$a").getItem(qi).as("v"))): _*)).as("r"))
      .select(col("o_orderpriority"), col("r.accuracy"), col("r.quantile"),
        col("r.v"))
    skRows
      .join(ranked.withColumnRenamed("o_totalprice", "v"),
        Seq("o_orderpriority", "v"))
      .join(broadcast(exact), "o_orderpriority")
      .select(col("o_orderpriority"), col("quantile"), col("accuracy"),
        when(col("quantile") === 0.5, col("ex_50")).otherwise(col("ex_95"))
          .as("exact_disc"),
        col("v").as("sketch_value"),
        greatest(lit(0.0),
          greatest(col("cum_start").cast("double") / col("n") - col("quantile"),
            col("quantile") - col("cum_end").cast("double") / col("n")))
          .as("rank_err"))
      .withColumn("within_bound",
        col("rank_err") <= lit(2.0) / col("accuracy") + 1e-12)
      .orderBy("o_orderpriority", "quantile", "accuracy")
  }

  /** q165's bounded transition-count extraction: sessionized (30-min
    * gap), truncated at each session's FIRST purchase, with purchase
    * mapped to the absorbing CONV state and session end to DROP. Output
    * is O(states²) rows — the whole corpus collapses before anything
    * leaves the cluster.
    */
  private[graft] def markovTransitionCounts(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sess = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L)
          .otherwise(0L))
      .withColumn("sess", sum("new_sess").over(w))
    val w2 = Window.partitionBy("user_id", "sess").orderBy("ts", "event_id")
    val pos = sess.withColumn("pos", row_number().over(w2))
    // r13: the first-purchase position is a whole-partition window MIN
    // over the SAME (user_id, sess) partitioning the position window
    // already established — the old aggregate-and-join-back re-ran the
    // whole double-window chain on both join inputs (and the two
    // consumers below re-ran the join again). One window column, no
    // join; the two consumers then branch off one checkpointed frame.
    val kept = pos
      .withColumn("ppos",
        min(when(col("event_type") === "purchase", col("pos")))
          .over(Window.partitionBy("user_id", "sess")))
      .filter(col("ppos").isNull || col("pos") <= col("ppos"))
      .withColumn("nxt", lead(col("event_type"), 1).over(w2))
      .localCheckpoint()
    val starts = kept.filter(col("pos") === 1)
      .select(lit("START").as("from_t"),
        when(col("event_type") === "purchase", "CONV")
          .otherwise(col("event_type")).as("to_t"))
    val steps = kept.filter(col("event_type") =!= "purchase")
      .select(col("event_type").as("from_t"),
        when(col("nxt").isNull, "DROP")
          .when(col("nxt") === "purchase", "CONV")
          .otherwise(col("nxt")).as("to_t"))
    starts.unionByName(steps)
      .groupBy("from_t", "to_t").agg(count(lit(1)).as("n"))
  }

  /** Absorption probability into CONV from START under row-normalized
    * transition counts, with `removed` channels redirected to DROP
    * (their incoming probability mass is LOST, not renormalized — the
    * standard removal-effect convention). Gaussian elimination over the
    * ≤|states| transient system (I − Q)f = r — constant-size driver
    * math, the k-means-centroid class.
    */
  private[graft] def absorbConv(counts: Seq[(String, String, Long)],
      removed: Set[String]): Double = {
    val transient = ("START" +: counts.map(_._1).distinct.filterNot(_ == "START").sorted)
      .filterNot(removed)
    val idx = transient.zipWithIndex.toMap
    val nT = transient.length
    val q = Array.ofDim[Double](nT, nT)
    val r = new Array[Double](nT)
    val totals = counts.filterNot(c => removed(c._1)).groupBy(_._1)
      .map { case (f, g) => f -> g.map(_._3).sum.toDouble }
    counts.foreach { case (f, t, n) =>
      if (!removed(f) && idx.contains(f)) {
        val p = n / totals(f)
        if (t == "CONV" && !removed.contains(t)) r(idx(f)) += p
        else if (idx.contains(t) && !removed(t)) q(idx(f))(idx(t)) += p
        // else: DROP, or a removed channel → mass lost
      }
    }
    // solve (I − Q) f = r
    val a = Array.tabulate(nT, nT)((i, j) => (if (i == j) 1.0 else 0.0) - q(i)(j))
    val b = r.clone()
    var col0 = 0
    while (col0 < nT) {
      var piv = col0
      var row = col0
      while (row < nT) { if (math.abs(a(row)(col0)) > math.abs(a(piv)(col0))) piv = row; row += 1 }
      val tmp = a(col0); a(col0) = a(piv); a(piv) = tmp
      val tb = b(col0); b(col0) = b(piv); b(piv) = tb
      val d0 = a(col0)(col0)
      var j = col0
      while (j < nT) { a(col0)(j) /= d0; j += 1 }
      b(col0) /= d0
      row = 0
      while (row < nT) {
        if (row != col0 && a(row)(col0) != 0.0) {
          val f = a(row)(col0)
          var j2 = col0
          while (j2 < nT) { a(row)(j2) -= f * a(col0)(j2); j2 += 1 }
          b(row) -= f * b(col0)
        }
        row += 1
      }
      col0 += 1
    }
    b(idx("START"))
  }

  // q165 — MARKOV REMOVAL-EFFECT attribution (the data-driven
  // alternative to q112's rule-based credit: model the session as a
  // first-order chain, and a channel's credit is how much conversion
  // probability DISAPPEARS when every path through it is cut — the
  // standard Markov attribution, built on q113's transition machinery
  // with absorbing CONV/DROP states and first-purchase truncation).
  // Scale shape: the corpus collapses to O(states²) transition counts in
  // one session-windowed pass (the only corpus shuffle); the chain math
  // — base absorption probability and one resolve per removed channel —
  // is constant-size driver linear algebra over that bounded artifact.
  // Removal redirects mass to DROP without renormalizing (lost, as the
  // convention demands), so p_removed ≤ p_base structurally. Iterative
  // linear-algebra output → rows-only; MarkovSpec replays absorption by
  // independent power iteration and pins the invariants.
  val q165: QueryDef = QueryDef.rowsOnly("q165_markov_attribution") { (s, d) =>
    import s.implicits._
    // bounded driver read: ≤ (states+1)² transition rows regardless of
    // corpus size (take-guarded like the centroid/model reads)
    val raw = markovTransitionCounts(s, d).take(128)
    require(raw.length < 128, "transition state space unexpectedly large")
    val counts = raw.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val channels = counts.map(_._1).distinct.filterNot(_ == "START").sorted
    val pBase = absorbConv(counts, Set.empty)
    val rows = channels.map { c =>
      val pRem = absorbConv(counts, Set(c))
      (c, pBase, pRem, (pBase - pRem) / pBase)
    }
    val totalEffect = rows.map(_._4).sum
    rows.map { case (c, pb, pr, e) => (c, pb, pr, e, e / totalEffect) }
      .toDF("channel", "p_base", "p_removed", "removal_effect", "credit_share")
      .orderBy("channel")
  }

  // q166 — SURVIVAL life table for time-to-conversion (the Kaplan–Meier
  // estimator on hour buckets — the churn/time-to-event staple: "what
  // fraction of users are still unconverted after t hours", with users
  // who never convert CENSORED at their last observed event, not
  // dropped — discarding them is the classic bias this estimator
  // exists to avoid). Scale shape: one user-keyed aggregate collapses
  // the corpus to per-user (duration, converted) rows; hour-bucketing
  // bounds the life table to O(observed-span hours) rows, so the
  // cumulative window runs on a BOUNDED table (the q127/q161 rule —
  // never a data-proportional global window). S(t) = Π(1 − d/n) is
  // computed as exp(Σ ln(1 − d/n)) in BOTH engines (identical libm-op
  // order; a portable cumulative product), with the all-converted
  // terminal bucket forced to exactly 0 via a window max guard instead
  // of ln(0). Multi-term double output → round-6.
  val q166: QueryDef = QueryDef.sql(
    "q166_survival_lifetable",
    """WITH u AS (
      |  SELECT user_id,
      |    min(epoch_us(ts)) AS t0,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tc,
      |    max(epoch_us(ts)) AS tl
      |  FROM events GROUP BY user_id),
      |d AS (
      |  SELECT user_id,
      |    CASE WHEN tc IS NOT NULL THEN (tc - t0) // 3600000000
      |         ELSE (tl - t0) // 3600000000 END AS hrs,
      |    CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END AS ev
      |  FROM u),
      |lt AS (
      |  SELECT hrs, CAST(sum(ev) AS BIGINT) AS d_conv,
      |    CAST(count(*) - sum(ev) AS BIGINT) AS c_cens
      |  FROM d GROUP BY hrs),
      |risk AS (
      |  SELECT hrs, d_conv, c_cens,
      |    sum(d_conv + c_cens) OVER (ORDER BY hrs DESC) AS n_risk
      |  FROM lt)
      |SELECT hrs, CAST(n_risk AS BIGINT) AS n_risk, d_conv, c_cens,
      |  round(CASE WHEN max(CASE WHEN d_conv = n_risk THEN 1 ELSE 0 END)
      |      OVER (ORDER BY hrs) = 1 THEN 0.0
      |    ELSE exp(sum(CASE WHEN d_conv < n_risk
      |        THEN ln(1.0 - CAST(d_conv AS DOUBLE) / n_risk) END)
      |      OVER (ORDER BY hrs)) END, 6) AS s_km
      |FROM risk
      |WHERE d_conv > 0
      |ORDER BY hrs""".stripMargin) { (s, d) =>
    val u = Tables.events(s, d)
      .groupBy("user_id")
      .agg(min("ts_us").as("t0"),
        min(when(col("event_type") === "purchase", col("ts_us"))).as("tc"),
        max("ts_us").as("tl"))
    val dur = u.select(
      when(col("tc").isNotNull, expr("(tc - t0) div 3600000000"))
        .otherwise(expr("(tl - t0) div 3600000000")).as("hrs"),
      when(col("tc").isNotNull, 1L).otherwise(0L).as("ev"))
    val lt = dur.groupBy("hrs")
      .agg(sum("ev").as("d_conv"),
        (count(lit(1)) - sum("ev")).as("c_cens"))
    // the life table is bounded by the observed hour span — single-
    // partition windows over it are fine (q127's rule)
    val byHrsDesc = Window.orderBy(desc("hrs"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byHrs = Window.orderBy(asc("hrs"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lt.withColumn("n_risk", sum(col("d_conv") + col("c_cens")).over(byHrsDesc))
      .withColumn("zero_seen",
        max(when(col("d_conv") === col("n_risk"), 1).otherwise(0)).over(byHrs))
      .withColumn("s_km",
        round(when(col("zero_seen") === 1, 0.0)
          .otherwise(exp(sum(when(col("d_conv") < col("n_risk"),
            log(lit(1.0) - col("d_conv").cast("double") / col("n_risk"))))
            .over(byHrs))), 6))
      .filter(col("d_conv") > 0)
      .select("hrs", "n_risk", "d_conv", "c_cens", "s_km")
      .orderBy("hrs")
  }

  // q167 — A/B CONVERSION TEST (the experiment-readout primitive: a
  // deterministic hash splits users into arms, conversion = the user
  // ACTIVATED — purchased within an hour of first touch (the time-boxed
  // metric; "ever purchased" saturates at 100% on this corpus and tests
  // nothing), and the 2×2 chi-square with Yates continuity correction
  // says whether the observed rate difference clears chance. Run as an
  // A/A test (a null split of one population) — and on this corpus the
  // fixed hash split lands at chi2 = 4.07 > 3.84: a real 1-in-20
  // fluctuation, the concrete reminder of why a single unlucky split
  // (or peeking across many) reads as a false win. All counts
  // are exact integers from one user-keyed aggregate + an O(1) rollup;
  // expected cells are single IEEE divisions; the 4-term chi-square sum
  // is written in the same fixed cell order in both engines and
  // rounded-6; the significance flag applies to the ROUNDED statistic
  // at the 3.841 (df=1, α=0.05) critical value.
  val q167: QueryDef = QueryDef.sql(
    "q167_ab_conversion_test",
    """WITH f AS (
      |  SELECT user_id,
      |    min(epoch_us(ts)) AS t0,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tc
      |  FROM events GROUP BY user_id),
      |u AS (
      |  SELECT user_id,
      |    ((user_id % 1000003) * 2654435761) % 2 AS arm,
      |    CASE WHEN tc IS NOT NULL AND tc <= t0 + 3600000000
      |      THEN 1 ELSE 0 END AS conv
      |  FROM f),
      |c AS (
      |  SELECT
      |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
      |  FROM u),
      |x AS (
      |  SELECT n_a, n_b, conv_a, conv_b,
      |    CAST(n_a + n_b AS DOUBLE) AS n,
      |    CAST(conv_a + conv_b AS DOUBLE) AS conv_t
      |  FROM c)
      |SELECT n_a, n_b, conv_a, conv_b,
      |  CAST(conv_a AS DOUBLE) / n_a AS rate_a,
      |  CAST(conv_b AS DOUBLE) / n_b AS rate_b,
      |  round(CASE WHEN conv_t = 0 OR conv_t = n THEN 0.0 ELSE
      |    n * pow(greatest(0.0, abs(CAST(conv_a AS DOUBLE) * (n_b - conv_b)
      |        - CAST(conv_b AS DOUBLE) * (n_a - conv_a)) - n / 2), 2)
      |      / (conv_t * (n - conv_t) * CAST(n_a AS DOUBLE) * n_b) END, 6) AS chi2,
      |  round(CASE WHEN conv_t = 0 OR conv_t = n THEN 0.0 ELSE
      |    n * pow(greatest(0.0, abs(CAST(conv_a AS DOUBLE) * (n_b - conv_b)
      |        - CAST(conv_b AS DOUBLE) * (n_a - conv_a)) - n / 2), 2)
      |      / (conv_t * (n - conv_t) * CAST(n_a AS DOUBLE) * n_b) END, 6)
      |    > 3.841459 AS significant
      |FROM x""".stripMargin) { (s, d) =>
    val u = Tables.events(s, d)
      .groupBy("user_id")
      .agg(min("ts_us").as("t0"),
        min(when(col("event_type") === "purchase", col("ts_us"))).as("tc"))
      .select(col("user_id"),
        when(col("tc").isNotNull && col("tc") <= col("t0") + 3600000000L, 1)
          .otherwise(0).as("conv"))
      .withColumn("arm", col("user_id") % 1000003L * 2654435761L % 2L)
    val c = u.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 0, col("conv")).otherwise(0)).cast("long").as("conv_a"),
      sum(when(col("arm") === 1, col("conv")).otherwise(0)).cast("long").as("conv_b"))
    val n = (col("n_a") + col("n_b")).cast("double")
    val convT = (col("conv_a") + col("conv_b")).cast("double")
    // Yates-corrected 2×2 chi-square in its determinant form:
    // n·(|ad − bc| − n/2)² / (row₁·row₂·col₁·col₂) — one expression,
    // identical operand order in both engines
    // a table with zero or universal conversion has no variation to
    // test — chi2 defined as 0 (and ANSI double/0 would throw)
    val chi2 = round(
      when(convT === 0.0 || convT === n, 0.0).otherwise(
        n * pow(greatest(lit(0.0),
          abs(col("conv_a").cast("double") * (col("n_b") - col("conv_b"))
            - col("conv_b").cast("double") * (col("n_a") - col("conv_a"))) - n / 2), 2)
          / (convT * (n - convT) * col("n_a").cast("double") * col("n_b"))), 6)
    c.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      (col("conv_a").cast("double") / col("n_a")).as("rate_a"),
      (col("conv_b").cast("double") / col("n_b")).as("rate_b"),
      chi2.as("chi2"),
      (chi2 > 3.841459).as("significant"))
  }

  // q168 — WEEKLY VALUE-QUANTILE drift monitor (the distribution-shape
  // companion to q147's count anomalies: purchase-value p50/p95 per
  // week with week-over-week ratios — a drifting p95 with a flat p50
  // means the tail moved, which a mean-based monitor averages away).
  // Discrete percentiles via the integer-ceil rank rule over the
  // per-week (value, count) table — the cut picks an ACTUAL data value,
  // so cross-week ratios are single IEEE divisions of exact doubles,
  // engine-identical unrounded; the drift flag fires at ±25%. Scale
  // shape: one map-side-combined shuffle to the count table, per-week
  // windows over its bounded partitions, the lag over O(weeks) rows.
  val q168: QueryDef = QueryDef.sql(
    "q168_metric_quantile_drift",
    """WITH w AS (
      |  SELECT epoch_us(ts) // 604800000000 AS wk, value
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT wk, value, count(*) AS cnt FROM w GROUP BY 1, 2),
      |cum AS (
      |  SELECT wk, value, cnt,
      |    sum(cnt) OVER (PARTITION BY wk ORDER BY value) AS cum,
      |    sum(cnt) OVER (PARTITION BY wk) AS total
      |  FROM c),
      |cuts AS (
      |  SELECT wk, CAST(min(total) AS BIGINT) AS n,
      |    min(CASE WHEN cum >= (total + 1) // 2 THEN value END) AS p50,
      |    min(CASE WHEN cum >= (19 * total + 19) // 20 THEN value END) AS p95
      |  FROM cum GROUP BY wk)
      |SELECT wk, n, p50, p95,
      |  p50 / lag(p50) OVER (ORDER BY wk) AS wow_p50,
      |  p95 / lag(p95) OVER (ORDER BY wk) AS wow_p95,
      |  coalesce(abs(p50 / lag(p50) OVER (ORDER BY wk) - 1.0) > 0.25
      |    OR abs(p95 / lag(p95) OVER (ORDER BY wk) - 1.0) > 0.25, false)
      |    AS drifted
      |FROM cuts ORDER BY wk""".stripMargin) { (s, d) =>
    val c = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(expr("ts_us div 604800000000").as("wk"), col("value"))
      .groupBy("wk", "value").agg(count(lit(1)).as("cnt"))
    val byVal = Window.partitionBy("wk").orderBy("value")
    val cum = c
      .withColumn("cum", sum("cnt").over(byVal))
      .withColumn("total", sum("cnt").over(Window.partitionBy("wk")))
    val cuts = cum.groupBy("wk").agg(
      min("total").cast("long").as("n"),
      min(when(col("cum") >= expr("(total + 1) div 2"), col("value"))).as("p50"),
      min(when(col("cum") >= expr("(19 * total + 19) div 20"), col("value"))).as("p95"))
    val byWk = Window.orderBy("wk")
    cuts
      .withColumn("wow_p50", col("p50") / lag("p50", 1).over(byWk))
      .withColumn("wow_p95", col("p95") / lag("p95", 1).over(byWk))
      .withColumn("drifted",
        coalesce(abs(col("wow_p50") - 1.0) > 0.25
          || abs(col("wow_p95") - 1.0) > 0.25, lit(false)))
      .orderBy("wk")
  }

  // q170 — PATH CONVERSION rates (what q143's frequency ranking cannot
  // say: WHICH 3-step journeys convert — the target table a next-best-
  // action model or a UX fix list reads; q165 credits channels globally,
  // this localizes to concrete paths): the same user-windowed lead
  // machinery at a 24 h VISIT horizon (the corpus' events are sparse in
  // time — 30-min session triples barely exist, daily journeys do; the
  // horizon is the analyst's knob) with one more lead for the OUTCOME — a path instance
  // converts if its next in-session event is a purchase; per-path
  // conversion is an exact-integer division ranked on the ROUNDED value
  // (engine-identical order), min-support 10 against small-sample
  // noise. Purchase inside the path is excluded (those journeys already
  // converted — counting them would double-credit). One window shuffle
  // + a \|types\|³-bounded groupBy, top-15 TakeOrdered.
  val q170: QueryDef = QueryDef.sql(
    "q170_path_conversion",
    """WITH seq AS (
      |  SELECT event_type AS t1,
      |    lead(event_type, 1) OVER w AS t2,
      |    lead(event_type, 2) OVER w AS t3,
      |    lead(event_type, 3) OVER w AS t4,
      |    epoch_us(ts) AS ts1,
      |    epoch_us(lead(ts, 1) OVER w) AS ts2,
      |    epoch_us(lead(ts, 2) OVER w) AS ts3,
      |    epoch_us(lead(ts, 3) OVER w) AS ts4
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |paths AS (
      |  SELECT t1 || '>' || t2 || '>' || t3 AS path,
      |    CASE WHEN t4 = 'purchase' AND ts4 <= ts3 + 86400000000
      |      THEN 1 ELSE 0 END AS conv
      |  FROM seq
      |  WHERE t3 IS NOT NULL
      |    AND ts2 <= ts1 + 86400000000 AND ts3 <= ts2 + 86400000000
      |    AND t1 <> 'purchase' AND t2 <> 'purchase' AND t3 <> 'purchase')
      |SELECT path, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(conv) AS BIGINT) AS n_conv,
      |  round(CAST(sum(conv) AS DOUBLE) / count(*), 6) AS conv_rate
      |FROM paths
      |GROUP BY path
      |HAVING count(*) >= 10
      |ORDER BY round(CAST(sum(conv) AS DOUBLE) / count(*), 6) DESC, path
      |LIMIT 15""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("event_type").as("t1"),
        lead(col("event_type"), 1).over(w).as("t2"),
        lead(col("event_type"), 2).over(w).as("t3"),
        lead(col("event_type"), 3).over(w).as("t4"),
        col("ts_us").as("ts1"),
        lead(col("ts_us"), 1).over(w).as("ts2"),
        lead(col("ts_us"), 2).over(w).as("ts3"),
        lead(col("ts_us"), 3).over(w).as("ts4"))
      .filter(col("t3").isNotNull &&
        col("ts2") <= col("ts1") + 86400000000L &&
        col("ts3") <= col("ts2") + 86400000000L &&
        col("t1") =!= "purchase" && col("t2") =!= "purchase" &&
        col("t3") =!= "purchase")
      .select(concat_ws(">", col("t1"), col("t2"), col("t3")).as("path"),
        when(col("t4") === "purchase" &&
          col("ts4") <= col("ts3") + 86400000000L, 1L).otherwise(0L).as("conv"))
      .groupBy("path")
      .agg(count(lit(1)).as("n"), sum("conv").as("n_conv"))
      .filter(col("n") >= 10)
      .select(col("path"), col("n"), col("n_conv"),
        round(col("n_conv").cast("double") / col("n"), 6).as("conv_rate"))
      .orderBy(desc("conv_rate"), asc("path"))
      .limit(15)
  }

  // q171 — RFM SEGMENTATION (the classic customer-value grid: tertile
  // scores on Recency/Frequency/Monetary → 27 segments, the table a
  // retention or campaign budget is allocated against). Exactness
  // discipline: all three metrics are INTEGERS (days via epoch-µs div,
  // order counts, cents via the q104 rounding), tertile cuts use the
  // integer-ceil rank rule over BOUNDED histograms — recency in days,
  // frequency as small counts, monetary bucketed to 1000-cent cells —
  // so the cumulative windows never run on data-proportional input
  // (the raw per-customer monetary table would be O(customers)
  // distinct). One customer-keyed aggregate is the only corpus
  // shuffle; cuts broadcast back; ≤27 rows out, all-integer except one
  // rounded average.
  val q171: QueryDef = QueryDef.sql(
    "q171_rfm_segments", {
      def cutSql(src: String, v: String) =
        s"""${src}h AS (SELECT $v AS v, count(*) AS cnt FROM cust GROUP BY 1),
           |${src}c AS (
           |  SELECT min(CASE WHEN cum >= (total + 2) // 3 THEN v END) AS c1,
           |    min(CASE WHEN cum >= (2 * total + 2) // 3 THEN v END) AS c2
           |  FROM (SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum,
           |          sum(cnt) OVER () AS total FROM ${src}h) t)""".stripMargin
      s"""WITH mx AS (
         |  SELECT max(epoch_us(o_orderdate)) // 86400000000 AS maxday FROM orders),
         |cust AS (
         |  SELECT o_custkey,
         |    CAST(mx.maxday - max(epoch_us(o_orderdate)) // 86400000000 AS BIGINT) AS r_days,
         |    CAST(count(*) AS BIGINT) AS f,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100000 AS BIGINT) AS m_buck,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m_cents
         |  FROM orders CROSS JOIN mx GROUP BY o_custkey, mx.maxday),
         |${cutSql("r", "r_days")},
         |${cutSql("f", "f")},
         |${cutSql("m", "m_buck")},
         |scored AS (
         |  SELECT
         |    (CASE WHEN r_days <= rc.c1 THEN 3 WHEN r_days <= rc.c2 THEN 2 ELSE 1 END) * 100
         |    + (CASE WHEN f <= fc.c1 THEN 1 WHEN f <= fc.c2 THEN 2 ELSE 3 END) * 10
         |    + (CASE WHEN m_buck <= mc.c1 THEN 1 WHEN m_buck <= mc.c2 THEN 2 ELSE 3 END)
         |      AS segment,
         |    m_cents
         |  FROM cust CROSS JOIN rc CROSS JOIN fc CROSS JOIN mc)
         |SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
         |  CAST(sum(m_cents) AS BIGINT) AS total_cents,
         |  round(CAST(sum(m_cents) AS DOUBLE) / count(*), 6) AS avg_cents
         |FROM scored GROUP BY segment ORDER BY segment""".stripMargin
    }) { (s, d) =>
    val orders = Tables.orders(s, d)
      .withColumn("oday",
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000"))
    val mx = orders.agg(max("oday").as("maxday"))
    val cust = orders.crossJoin(broadcast(mx))
      .groupBy("o_custkey", "maxday")
      .agg(max("oday").as("cday"), count(lit(1)).as("f"),
        sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("m_cents"))
      .select(col("o_custkey"), (col("maxday") - col("cday")).as("r_days"),
        col("f"), expr("m_cents div 100000").as("m_buck"), col("m_cents"))
    def cuts(v: String): DataFrame = {
      val h = cust.groupBy(col(v).as("v")).agg(count(lit(1)).as("cnt"))
      h.withColumn("cum",
          sum("cnt").over(Window.orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("total", sum("cnt").over(
          Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .agg(
          min(when(col("cum") >= expr("(total + 2) div 3"), col("v"))).as(s"${v}_c1"),
          min(when(col("cum") >= expr("(2 * total + 2) div 3"), col("v"))).as(s"${v}_c2"))
    }
    cust
      .crossJoin(broadcast(cuts("r_days")))
      .crossJoin(broadcast(cuts("f")))
      .crossJoin(broadcast(cuts("m_buck")))
      .select(
        (when(col("r_days") <= col("r_days_c1"), 3)
          .when(col("r_days") <= col("r_days_c2"), 2).otherwise(1) * 100
          + when(col("f") <= col("f_c1"), 1)
            .when(col("f") <= col("f_c2"), 2).otherwise(3) * 10
          + when(col("m_buck") <= col("m_buck_c1"), 1)
            .when(col("m_buck") <= col("m_buck_c2"), 2).otherwise(3))
          .as("segment"),
        col("m_cents"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_customers"), sum("m_cents").as("total_cents"))
      .select(col("segment"), col("n_customers"), col("total_cents"),
        round(col("total_cents").cast("double") / col("n_customers"), 6)
          .as("avg_cents"))
      .orderBy("segment")
  }

  // q172 — MARKET-BASKET association rules at the brand level (the
  // classic support/confidence/lift table a merchandiser or recommender
  // cold-start reads; brand granularity keeps the rule space scale-free —
  // part-level pairs at TPC-H's uniform draw almost never repeat, brand
  // pairs always do). Shape: ONE order-keyed shuffle builds the distinct
  // per-order brand basket (collect_set, bounded by |brands| = 25); pair
  // generation is a map-side double-explode over the sorted set (≤ k²/2
  // rows per basket, k ≤ 25), landing in an O(brands²) ≤ 325-key
  // aggregate with map-side partials. Singles counts and the basket
  // count reuse the SAME grouped exchange (AQE exchange reuse — the
  // three branches share an identical subplan). All counts integer-exact;
  // support/confidence are single IEEE divisions and lift is one
  // double-mul + divide written in the identical operand order both
  // engines, rounded once at the end; top-20 by (rounded lift, pair)
  // so the LIMIT boundary is deterministic.
  /** q172's shared per-order brand-basket table (factored so PlanSpec can
    * pin the broadcast-dimension + collect_set shape of the subtree that
    * the lazy checkpoint hides from the outer plan).
    */
  private[graft] def q172Baskets(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
      .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("p_brand"))).as("brands"))

  val q172: QueryDef = QueryDef.sql(
    "q172_market_basket",
    """WITH b AS (
      |  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |n AS (SELECT count(DISTINCT okey) AS n_orders FROM b),
      |s AS (SELECT brand, count(*) AS cnt FROM b GROUP BY brand),
      |pr AS (
      |  SELECT a.brand AS brand_a, c.brand AS brand_b, count(*) AS n_ab
      |  FROM b a JOIN b c ON a.okey = c.okey AND a.brand < c.brand
      |  GROUP BY 1, 2)
      |SELECT brand_a, brand_b, n_ab,
      |  round(CAST(n_ab AS DOUBLE) / n_orders, 6) AS support,
      |  round(CAST(n_ab AS DOUBLE) / sa.cnt, 6) AS conf_a_b,
      |  round(CAST(n_ab AS DOUBLE) / sb.cnt, 6) AS conf_b_a,
      |  round(CAST(n_ab AS DOUBLE) * n_orders / (sa.cnt * sb.cnt), 6) AS lift
      |FROM pr JOIN s sa ON pr.brand_a = sa.brand
      |  JOIN s sb ON pr.brand_b = sb.brand CROSS JOIN n
      |WHERE n_ab >= 5
      |ORDER BY lift DESC, brand_a, brand_b
      |LIMIT 20""".stripMargin) { (s, d) =>
    // LAZY localCheckpoint of the shared basket table (r14, VERDICT-r13
    // item 3): three consumers (n_orders, singles, pairs) previously each
    // re-ran the corpus scan + basket aggregate — ReuseExchange-blind
    // because per-branch column pruning gives the subtree different read
    // schemas. The r13 EAGER checkpoint was measured-reverted (it
    // serialized branches that ran concurrently); the lazy form
    // materializes inside the first consumer's job and shares blocks, so
    // the corpus is scanned once at ANY scale with no standalone
    // materialization job.
    val baskets = q172Baskets(s, d).localCheckpoint(false)
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val singles = baskets
      .select(explode(col("brands")).as("brand"))
      .groupBy("brand").agg(count(lit(1)).as("cnt"))
    val pairs = baskets
      .select(explode(col("brands")).as("brand_a"), col("brands"))
      .select(col("brand_a"), explode(col("brands")).as("brand_b"))
      .filter(col("brand_a") < col("brand_b"))
      .groupBy("brand_a", "brand_b").agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(singles.select(
        col("brand").as("brand_a"), col("cnt").as("cnt_a"))), "brand_a")
      .join(broadcast(singles.select(
        col("brand").as("brand_b"), col("cnt").as("cnt_b"))), "brand_b")
      .crossJoin(broadcast(nOrders))
      .filter(col("n_ab") >= 5)
      .select(col("brand_a"), col("brand_b"), col("n_ab"),
        round(col("n_ab").cast("double") / col("n_orders"), 6).as("support"),
        round(col("n_ab").cast("double") / col("cnt_a"), 6).as("conf_a_b"),
        round(col("n_ab").cast("double") / col("cnt_b"), 6).as("conf_b_a"),
        round(col("n_ab").cast("double") * col("n_orders")
          / (col("cnt_a") * col("cnt_b")), 6).as("lift"))
      .orderBy(desc("lift"), col("brand_a"), col("brand_b"))
      .limit(20)
  }

  // q173 — AUTOMATED COLUMN PROFILE of a table (the ANALYZE/data-catalog
  // staple an engineer reads before writing the first query: per-column
  // null count, exact distinct cardinality, min/max): one aggregate over
  // orders computes every column's stats — the multi-distinct plans as
  // ONE shuffle via Catalyst's Expand (a documented ×(cols+1) row
  // expansion; at 100 TB the profiler's default is the sketch family —
  // approx_count_distinct / q90's HLL — exactness is kept here because
  // the oracle demands it and the trade is the operator's own lesson).
  // Timestamps profile as exact epoch-µs (engine-portable, no formatting
  // hazard); numerics as doubles (all values < 2^53, conversions exact);
  // strings keep lexicographic min/max in their own columns. The 1×N
  // wide row reshapes to long form with a local explode — no second pass.
  val q173: QueryDef = {
    val numCols = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_odate_us")
    val strCols = Seq("o_orderstatus", "o_orderpriority")
    def block(c: String, isNum: Boolean) = {
      val minMax =
        if (isNum) s"CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,\n  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str"
        else s"CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,\n  min($c) AS min_str, max($c) AS max_str"
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  count(*) - count($c) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  $minMax
         |FROM o""".stripMargin
    }
    QueryDef.sql(
      "q173_column_profile",
      s"""WITH o AS (SELECT *, epoch_us(o_orderdate) AS o_odate_us FROM orders)
         |${(numCols.map(block(_, isNum = true)) ++
             strCols.map(block(_, isNum = false))).mkString("\nUNION ALL\n")}
         |ORDER BY col_name""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
        .withColumn("o_odate_us",
          expr("unix_micros(cast(o_orderdate as timestamp))"))
      val aggs =
        (numCols ++ strCols).flatMap { c =>
          Seq(
            sum(col(c).isNull.cast("long")).as(s"${c}_nulls"),
            countDistinct(col(c)).as(s"${c}_nd"))
        } ++
        numCols.flatMap { c =>
          Seq(min(col(c)).cast("double").as(s"${c}_min"),
            max(col(c)).cast("double").as(s"${c}_max"))
        } ++
        strCols.flatMap { c =>
          Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"))
        } :+ count(lit(1)).as("n_rows")
      val wide = o.agg(aggs.head, aggs.tail: _*)
      val rows =
        numCols.map { c =>
          struct(lit(c).as("col_name"), col(s"${c}_nulls").as("n_nulls"),
            col(s"${c}_nd").as("n_distinct"),
            col(s"${c}_min").as("min_num"), col(s"${c}_max").as("max_num"),
            lit(null).cast("string").as("min_str"),
            lit(null).cast("string").as("max_str"))
        } ++
        strCols.map { c =>
          struct(lit(c).as("col_name"), col(s"${c}_nulls").as("n_nulls"),
            col(s"${c}_nd").as("n_distinct"),
            lit(null).cast("double").as("min_num"),
            lit(null).cast("double").as("max_num"),
            col(s"${c}_min").as("min_str"), col(s"${c}_max").as("max_str"))
        }
      wide
        .select(col("n_rows"), explode(array(rows: _*)).as("p"))
        .select(col("p.col_name"), col("n_rows"), col("p.n_nulls"),
          col("p.n_distinct"), col("p.min_num"), col("p.max_num"),
          col("p.min_str"), col("p.max_str"))
        .orderBy("col_name")
    }
  }

  // q174 — ITEM-ITEM COLLABORATIVE FILTERING affinity (the "customers who
  // buy X also buy Y" recommender primitive — distinct semantics from
  // q172: baskets count order-level co-OCCURRENCE, this measures
  // customer-level purchase-VECTOR alignment, so a brand pair bought by
  // the same people in similar proportions scores high even when never
  // in one order): brand-brand cosine over per-customer purchase-count
  // vectors. Shape: orderkey shuffle join attaches customers to
  // lineitems, ONE (custkey, brand) aggregate builds the vector entries,
  // a custkey-keyed collect gathers each customer's ≤25-entry vector,
  // pair products explode map-side into an O(brands²) dot-product
  // aggregate; norms are a 25-row aggregate off the same entry table.
  // Dots and squared norms are exact integers; cosine is
  // dot / (√ssa · √ssb) in the identical operand order both engines
  // (IEEE sqrt is correctly rounded — bit-identical), rounded once.
  /** q174's shared (customer, brand) purchase-count vector entries
    * (factored for PlanSpec's subtree pins — see [[q172Baskets]]).
    */
  private[graft] def q174Cb(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
      .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey", "p_brand")
      .agg(count(lit(1)).as("cnt"))

  val q174: QueryDef = QueryDef.sql(
    "q174_brand_affinity",
    """WITH cb AS (
      |  SELECT o.o_custkey AS c, p.p_brand AS brand, count(*) AS cnt
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1, 2),
      |nrm AS (SELECT brand, CAST(sum(cnt * cnt) AS BIGINT) AS ss
      |        FROM cb GROUP BY brand),
      |pr AS (
      |  SELECT a.brand AS brand_a, b.brand AS brand_b,
      |    CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dot
      |  FROM cb a JOIN cb b ON a.c = b.c AND a.brand < b.brand
      |  GROUP BY 1, 2)
      |SELECT brand_a, brand_b, dot,
      |  round(CAST(dot AS DOUBLE)
      |    / (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE))), 6)
      |    AS cosine
      |FROM pr JOIN nrm na ON pr.brand_a = na.brand
      |  JOIN nrm nb ON pr.brand_b = nb.brand
      |ORDER BY cosine DESC, brand_a, brand_b
      |LIMIT 20""".stripMargin) { (s, d) =>
    // q172's lazy-checkpoint dedupe (VERDICT-r13 item 3): norms and the
    // pair explode both consume cb — ungated, the corpus join+aggregate
    // chain ran twice (measured: 2× 600k-row scans + 2× 289k-row shuffle
    // stages at sf0.1).
    val cb = q174Cb(s, d).localCheckpoint(false)
    val norms = cb.groupBy("p_brand")
      .agg(sum(col("cnt") * col("cnt")).as("ss"))
    val pairs = cb
      .groupBy("o_custkey")
      .agg(collect_list(struct(col("p_brand").as("brand"),
        col("cnt").as("cnt"))).as("v"))
      .select(explode(col("v")).as("a"), col("v"))
      .select(col("a"), explode(col("v")).as("b"))
      .filter(col("a.brand") < col("b.brand"))
      .groupBy(col("a.brand").as("brand_a"), col("b.brand").as("brand_b"))
      .agg(sum(col("a.cnt") * col("b.cnt")).as("dot"))
    pairs
      .join(broadcast(norms.select(
        col("p_brand").as("brand_a"), col("ss").as("ss_a"))), "brand_a")
      .join(broadcast(norms.select(
        col("p_brand").as("brand_b"), col("ss").as("ss_b"))), "brand_b")
      .select(col("brand_a"), col("brand_b"), col("dot"),
        round(col("dot").cast("double")
          / (sqrt(col("ss_a").cast("double"))
            * sqrt(col("ss_b").cast("double"))), 6).as("cosine"))
      .orderBy(desc("cosine"), col("brand_a"), col("brand_b"))
      .limit(20)
  }

  // q175 — UNPIVOT / MELT (the inverse relational primitive of q15's
  // pivot: wide matrix → long triples, what every plotting/ML-ingest
  // layer wants): q15's day × event_type count matrix stacks back to
  // (day, event_type, cnt) via a Generate — map-side, no extra
  // exchange beyond the pivot's own groupBy. The oracle is the
  // ROUND-TRIP IDENTITY: unpivot(pivot(events)) must hash-equal the
  // direct long-form aggregate (absent combos leave as the pivot's
  // nulls and are dropped, mirroring GROUP BY's absent groups).
  val q175: QueryDef = QueryDef.sql(
    "q175_unpivot_melt",
    """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS cnt
      |FROM events
      |GROUP BY strftime(ts, '%Y-%m-%d'), event_type
      |ORDER BY day, event_type""".stripMargin) { (s, d) =>
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .pivot("event_type", types)
      .count()
      .select(col("day"),
        expr(s"stack(${types.length}, " +
          types.map(t => s"'$t', `$t`").mkString(", ") +
          ") AS (event_type, cnt)"))
      .filter(col("cnt").isNotNull)
      .orderBy("day", "event_type")
  }

  // q176 — SCD2 POINT-IN-TIME JOIN (the canonical consumer of q110's
  // history build: each fact joins the dimension VERSION valid at its
  // own timestamp — the join that makes "what did the customer look
  // like when this shipped" answerable without leaking future state):
  // lineitem shipments join the per-customer [valid_from, valid_to)
  // version intervals on custkey + containment. The FIRST version's
  // validity is floored at the epoch — the conventional SCD2 backfill
  // row, needed because this corpus ships lines YEARS before their
  // order — so per-key intervals tile [0, +inf) and every shipment
  // matches EXACTLY one version (spec-asserted). Shipments landing in
  // a version other than their own order's surface as
  // same_version = false (the rows a naive "join latest state"
  // computes wrong), and pre-history ones as backfill = true. Shape:
  // one custkey-keyed window builds the interval table from the CHANGE
  // LOG (never a fact table); the PIT join shuffles both sides on
  // custkey with the band as residual predicate, versions-per-key
  // bounded by orders per customer. All interval math exact epoch-µs
  // integers, value sums exact cents; ≤8-row output.
  val q176: QueryDef = QueryDef.sql(
    "q176_scd2_point_in_time",
    """WITH v0 AS (
      |  SELECT o_custkey, o_orderkey,
      |    epoch_us(o_orderdate) AS vfrom,
      |    coalesce(epoch_us(lead(o_orderdate) OVER w), 9223372036854775807)
      |      AS vto,
      |    row_number() OVER w AS rn
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |v AS (
      |  SELECT o_custkey, o_orderkey, vfrom, vto,
      |    CASE WHEN rn = 1 THEN 0 ELSE vfrom END AS vfrom_eff
      |  FROM v0),
      |f AS (
      |  SELECT o.o_custkey AS custkey, l.l_orderkey AS fact_order,
      |    epoch_us(l.l_shipdate) AS ship_us,
      |    CAST(round(l.l_extendedprice * 100) AS BIGINT) AS val_cents
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
      |SELECT
      |  (f.fact_order = v.o_orderkey) AS same_version,
      |  (v.vto = 9223372036854775807) AS is_current,
      |  (f.ship_us < v.vfrom) AS backfill,
      |  count(*) AS n_ship,
      |  CAST(sum(f.val_cents) AS BIGINT) AS value_cents
      |FROM f JOIN v ON f.custkey = v.o_custkey
      |  AND f.ship_us >= v.vfrom_eff AND f.ship_us < v.vto
      |GROUP BY 1, 2, 3
      |ORDER BY same_version, is_current, backfill""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val v = Tables.orders(s, d)
      .withColumn("vfrom", expr("unix_micros(cast(o_orderdate as timestamp))"))
      .withColumn("vto",
        coalesce(lead(col("vfrom"), 1).over(w), lit(Long.MaxValue)))
      .withColumn("vfrom_eff",
        when(row_number().over(w) === 1, 0L).otherwise(col("vfrom")))
      .select(col("o_custkey").as("v_custkey"),
        col("o_orderkey").as("v_orderkey"), col("vfrom"), col("vfrom_eff"),
        col("vto"))
    val f = Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        expr("unix_micros(cast(l_shipdate as timestamp))").as("ship_us"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("val_cents"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
    f.join(v,
        col("o_custkey") === col("v_custkey")
          && col("ship_us") >= col("vfrom_eff") && col("ship_us") < col("vto"))
      .groupBy(
        (col("l_orderkey") === col("v_orderkey")).as("same_version"),
        (col("vto") === lit(Long.MaxValue)).as("is_current"),
        (col("ship_us") < col("vfrom")).as("backfill"))
      .agg(count(lit(1)).as("n_ship"),
        sum(col("val_cents")).as("value_cents"))
      .orderBy("same_version", "is_current", "backfill")
  }

  // q177 — EXACT TOP-DOWN PRORATION (the financial-allocation primitive:
  // spread each order's booked total across its line items by weight so
  // the allocated cents RECONCILE to the total exactly — off-by-a-cent
  // per group is the bug class this operator exists to kill, and naive
  // double-share allocation guarantees it). Largest-remainder method in
  // pure int64: total_cents and per-line weight_cents are exact (q104's
  // cents rule), base share = (total·w) div Σw, and the leftover
  // (total − Σbase < n_lines) goes one cent each to the largest
  // remainders ((total·w) mod Σw, ties by line number) — every quantity
  // an integer, so Spark and DuckDB agree bit-for-bit with NO rounding
  // discipline needed anywhere. Shape: ONE orderkey shuffle carries the
  // join to orders and both per-order windows (Σw + remainder rank —
  // partitions bounded by ≤7 lines); the output rollup is O(flags).
  // Reconciliation is structural (Σalloc = Σtotal by construction) and
  // the oracle re-derives it from scratch.
  val q177: QueryDef = QueryDef.sql(
    "q177_exact_proration",
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS w
      |  FROM lineitem),
      |j AS (
      |  SELECT li.*, CAST(round(o.o_totalprice * 100) AS BIGINT) AS total
      |  FROM li JOIN orders o ON li.l_orderkey = o.o_orderkey),
      |s1 AS (
      |  SELECT *, sum(w) OVER (PARTITION BY l_orderkey) AS sw FROM j),
      |s2 AS (
      |  SELECT *, (total * w) // sw AS base, (total * w) % sw AS rem
      |  FROM s1),
      |shares AS (
      |  SELECT *,
      |    total - sum(base) OVER (PARTITION BY l_orderkey) AS leftover,
      |    row_number() OVER (PARTITION BY l_orderkey
      |      ORDER BY rem DESC, l_linenumber) AS rem_rank
      |  FROM s2)
      |SELECT l_returnflag, l_linestatus,
      |  CAST(sum(base + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END)
      |    AS BIGINT) AS alloc_cents,
      |  count(*) AS n_lines
      |FROM shares
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    val wo = Window.partitionBy("l_orderkey")
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_linestatus"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("w"))
      .join(Tables.orders(s, d).select(col("o_orderkey"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("total")),
        col("l_orderkey") === col("o_orderkey"))
    val shares = li
      .withColumn("sw", sum("w").over(wo))
      .withColumn("base", expr("(total * w) div sw"))
      .withColumn("rem", expr("(total * w) % sw"))
      .withColumn("leftover", col("total") - sum("base").over(wo))
      .withColumn("rem_rank", row_number().over(
        Window.partitionBy("l_orderkey").orderBy(desc("rem"), col("l_linenumber"))))
    shares
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("base")
          + when(col("rem_rank") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc_cents"),
        count(lit(1)).as("n_lines"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // q178 — INTERVAL UNION / UTILIZATION (the billing-and-engagement
  // staple SQL is famously bad at: each event opens a 30-min activity
  // interval, and the question is each user's UNION length — overlaps
  // counted once, the number "sum of durations" overstates): classic
  // sweep-line as ONE per-user window pass — events sorted by start,
  // covered += max(0, end − max(start, max-prior-end)) where
  // max-prior-end is a running window max over [unbounded, 1 preceding].
  // All arithmetic exact epoch-µs integers (greatest/least portable);
  // user partitions are real keys bounded by events-per-user; the
  // per-user totals collapse to an O(hour-buckets) engagement histogram.
  val q178: QueryDef = QueryDef.sql(
    "q178_interval_coverage",
    """WITH iv AS (
      |  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 1800000000 AS e
      |  FROM events),
      |sw AS (
      |  SELECT user_id, s, e,
      |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_e
      |  FROM iv),
      |cov AS (
      |  SELECT user_id,
      |    CAST(sum(greatest(e - greatest(s, coalesce(prior_e, s)),
      |      0)) AS BIGINT) AS covered_us
      |  FROM sw GROUP BY user_id)
      |SELECT covered_us // 3600000000 AS covered_hours,
      |  count(*) AS n_users,
      |  CAST(sum(covered_us) AS BIGINT) AS total_covered_us
      |FROM cov
      |GROUP BY covered_us // 3600000000
      |ORDER BY covered_hours""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("s", "e")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cov = Tables.events(s, d)
      .select(col("user_id"), col("ts_us").as("s"),
        (col("ts_us") + lit(1800000000L)).as("e"))
      .withColumn("prior_e", max("e").over(w))
      .groupBy("user_id")
      .agg(sum(greatest(
        col("e") - greatest(col("s"), coalesce(col("prior_e"), col("s"))),
        lit(0L))).as("covered_us"))
    cov
      .groupBy(expr("covered_us div 3600000000").as("covered_hours"))
      .agg(count(lit(1)).as("n_users"),
        sum("covered_us").as("total_covered_us"))
      .orderBy("covered_hours")
  }

  // q179 — PEAK CONCURRENCY (max simultaneous open sessions — the
  // licensing/occupancy/capacity high-water mark): every event opens a
  // [ts, ts+30 min) session; boundaries (+1 at open, −1 at close,
  // closes ordered BEFORE opens at the same instant per half-open
  // semantics) accumulate to a running census whose max is the peak.
  // The naive global ordered cumsum is a single-partition window — the
  // shape that dies at scale — so this plans the TWO-LEVEL PREFIX SUM:
  // within-hour cumsums run on hour-partitioned windows (real keys),
  // per-hour net sums collapse to an O(hours) table whose own
  // cumulative prefix (a window over bounded rows — the documented
  // exception) joins back broadcast, and running = prior-hours prefix +
  // within-hour cumsum. Exact integers end-to-end; the oracle replays
  // the straightforward single-sweep formulation and must agree on
  // (peak, first instant it is reached).
  val q179: QueryDef = QueryDef.sql(
    "q179_peak_concurrency",
    """WITH b AS (
      |  SELECT epoch_us(ts) AS t, 1 AS d FROM events
      |  UNION ALL
      |  SELECT epoch_us(ts) + 1800000000 AS t, -1 AS d FROM events),
      |r AS (
      |  SELECT t, d, CAST(sum(d) OVER (ORDER BY t, d) AS BIGINT) AS running
      |  FROM b),
      |m AS (SELECT max(running) AS peak FROM r)
      |SELECT m.peak AS peak_concurrency,
      |  CAST(min(CASE WHEN r.running = m.peak THEN r.t END) AS BIGINT)
      |    AS first_peak_us
      |FROM r CROSS JOIN m
      |GROUP BY m.peak""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select(col("ts_us"))
    val bounds = ev.select(col("ts_us").as("t"), lit(1).as("d"))
      .unionAll(ev.select((col("ts_us") + lit(1800000000L)).as("t"),
        lit(-1).as("d")))
      .withColumn("hour", expr("t div 3600000000"))
    // level 1: within-hour running sums on real partition keys
    val wIn = Window.partitionBy("hour").orderBy("t", "d")
    val inHour = bounds.withColumn("run_in", sum("d").over(wIn))
    // level 2: per-hour nets -> cumulative prefix BEFORE each hour
    // (window over the O(hours) table only), broadcast back
    val wH = Window.orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = bounds.groupBy("hour").agg(sum("d").as("net"))
      .withColumn("prefix", coalesce(sum("net").over(wH), lit(0L)))
      .select("hour", "prefix")
    val running = inHour.join(broadcast(prefix), "hour")
      .select(col("t"), (col("prefix") + col("run_in")).as("running"))
    val peak = running.agg(max("running").as("peak_concurrency"))
    running.join(broadcast(peak), col("running") === col("peak_concurrency"))
      .groupBy("peak_concurrency")
      .agg(min("t").as("first_peak_us"))
  }

  // q181 — REVENUE CONCENTRATION (the "do 10% of customers drive 80% of
  // revenue" audit: Gini coefficient + top-decile spend share): customer
  // totals are exact cents from ONE customer-keyed aggregate, then —
  // q171's histogram discipline — collapse to 1000-cent buckets so every
  // cumulative window runs on a BOUNDED value table, never O(customers)
  // rows (the contract is Gini OVER THE BUCKETED distribution, stated,
  // deterministic, and replayed identically by the oracle). Grouped-data
  // Gini = 1 − Σ f_b·(2·cum_share_before + share_b) with f, share single
  // IEEE divisions from exact integers in identical operand order; the
  // top-decile cut uses the integer-ceil rank rule over the same
  // histogram. Two rounded outputs, one row.
  val q181: QueryDef = QueryDef.sql(
    "q181_revenue_concentration",
    """WITH cust AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY o_custkey),
      |h AS (
      |  SELECT cents // 100000 AS b, count(*) AS n_c,
      |    CAST(sum(cents) AS BIGINT) AS s_c
      |  FROM cust GROUP BY cents // 100000),
      |c AS (
      |  SELECT b, n_c, s_c,
      |    coalesce(sum(n_c) OVER (ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_n,
      |    coalesce(sum(s_c) OVER (ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_s,
      |    sum(n_c) OVER () AS tot_n, sum(s_c) OVER () AS tot_s
      |  FROM h)
      |SELECT
      |  CAST(max(tot_n) AS BIGINT) AS n_customers,
      |  CAST(max(tot_s) AS BIGINT) AS total_cents,
      |  round(1.0 - sum((CAST(n_c AS DOUBLE) / tot_n)
      |    * (2.0 * cum_s / tot_s + CAST(s_c AS DOUBLE) / tot_s)), 6)
      |    AS gini,
      |  round(CAST(sum(CASE WHEN cum_n + n_c > tot_n - (tot_n + 9) // 10
      |      THEN s_c ELSE 0 END) AS DOUBLE) / max(tot_s), 6)
      |    AS top_decile_share_ub
      |FROM c""".stripMargin) { (s, d) =>
    val cust = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("cents"))
    val h = cust
      .groupBy(expr("cents div 100000").as("b"))
      .agg(count(lit(1)).as("n_c"), sum("cents").as("s_c"))
    val wPrev = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    h.withColumn("cum_n", coalesce(sum("n_c").over(wPrev), lit(0L)))
      .withColumn("cum_s", coalesce(sum("s_c").over(wPrev), lit(0L)))
      .withColumn("tot_n", sum("n_c").over(wAll))
      .withColumn("tot_s", sum("s_c").over(wAll))
      .agg(
        max("tot_n").as("n_customers"),
        max("tot_s").as("total_cents"),
        round(lit(1.0) - sum((col("n_c").cast("double") / col("tot_n"))
          * (lit(2.0) * col("cum_s") / col("tot_s")
            + col("s_c").cast("double") / col("tot_s"))), 6).as("gini"),
        round(sum(when(col("cum_n") + col("n_c")
            > col("tot_n") - expr("(tot_n + 9) div 10"), col("s_c"))
          .otherwise(0L)).cast("double") / max("tot_s"), 6)
          .as("top_decile_share_ub"))
  }

  // q182 — ORDERED LIST AGGREGATION (the string_agg / array_agg surface:
  // collapse a detail table to one ordered, delimited value per key —
  // what feeds exports, dedup keys, and "journey string" features):
  // per customer, the status sequence of their orders in (date, key)
  // order plus the distinct sorted priorities. Ordering is the whole
  // contract — collect_list order is partition-nondeterministic, so the
  // values ride a struct sort (sort_array on (date, key, status)) before
  // joining; DuckDB replays with string_agg(... ORDER BY). One
  // customer-keyed exchange; per-key lists bounded by orders/customer.
  // Output keyed by customer — O(customers) rows, fine for a dump query
  // (the operator's point is the ordered-collapse mechanics).
  val q182: QueryDef = QueryDef.sql(
    "q182_group_concat",
    """SELECT o_custkey,
      |  string_agg(o_orderstatus, ',' ORDER BY o_orderdate, o_orderkey)
      |    AS status_seq,
      |  string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority)
      |    AS priorities,
      |  count(*) AS n_orders
      |FROM orders
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(
        array_join(expr(
          "transform(array_sort(collect_list(struct(unix_micros(cast(o_orderdate as timestamp)) as d, o_orderkey as k, o_orderstatus as st))), x -> x.st)"),
          ",").as("status_seq"),
        array_join(array_sort(collect_set(col("o_orderpriority"))), "|")
          .as("priorities"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_custkey")
  }

  // q183 — COHORT LTV TRIANGLE (the lifetime-value curve: customers
  // grouped by first-purchase month, cumulative revenue per cohort at
  // each age in months — the table payback periods and LTV/CAC read
  // off; q93 counts retention HEADS, this accumulates VALUE): first
  // purchase via one customer-keyed min, cohort/age in CALENDAR months
  // (year·12+month integer arithmetic — engine-exact, no epoch-day
  // division drift), revenue exact cents. The cumulative-over-age
  // window runs on the O(cohorts × ages) matrix, never on orders; the
  // only corpus shuffles are the two keyed aggregates (customer min,
  // then (cohort, age) cents).
  val q183: QueryDef = QueryDef.sql(
    "q183_cohort_ltv",
    """WITH fo AS (
      |  SELECT o_custkey,
      |    min(CAST(date_part('year', o_orderdate) * 12
      |      + date_part('month', o_orderdate) AS BIGINT)) AS cohort_m
      |  FROM orders GROUP BY o_custkey),
      |rev AS (
      |  SELECT fo.cohort_m,
      |    CAST(date_part('year', o.o_orderdate) * 12
      |      + date_part('month', o.o_orderdate) AS BIGINT) - fo.cohort_m
      |      AS age_m,
      |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents,
      |    count(*) AS n_orders
      |  FROM orders o JOIN fo ON o.o_custkey = fo.o_custkey
      |  GROUP BY 1, 2)
      |SELECT cohort_m, age_m, n_orders, cents,
      |  CAST(sum(cents) OVER (PARTITION BY cohort_m ORDER BY age_m)
      |    AS BIGINT) AS cum_cents
      |FROM rev
      |ORDER BY cohort_m, age_m""".stripMargin) { (s, d) =>
    val om = Tables.orders(s, d)
      .withColumn("m",
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long"))
    val fo = om.groupBy("o_custkey").agg(min("m").as("cohort_m"))
    val rev = om
      .join(fo, "o_custkey")
      .groupBy(col("cohort_m"), (col("m") - col("cohort_m")).as("age_m"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("cents"),
        count(lit(1)).as("n_orders"))
    val w = Window.partitionBy("cohort_m").orderBy("age_m")
    rev
      .select(col("cohort_m"), col("age_m"), col("n_orders"), col("cents"),
        sum("cents").over(w).as("cum_cents"))
      .orderBy("cohort_m", "age_m")
  }

  // q184 — KOLMOGOROV–SMIRNOV DRIFT TEST, integer-exact (the standard
  // two-sample "did the distribution move" check next to q137's JS
  // divergence and q168's quantile ratios; KS is the one with a
  // DISTRIBUTION-FREE critical value, so the flag needs no baseline
  // tuning). Slices: even vs odd epoch-DAY of the order date — a true
  // A/A pair, so the operator doubles as its own null calibration (the
  // flag must NOT fire; q167's A/A lesson). Exactness: the textbook
  // D = max|F₀−F₁| compares ratios of cumulative counts — ratio doubles
  // would ulp-drift across engines at the argmax, so the comparison is
  // CROSS-MULTIPLIED: diff_num = |cum0·n1 − cum1·n0|, an exact int64,
  // and the max + its argmin bucket are integer decisions; only the
  // final D and critical value are (identical-operand-order) doubles
  // rounded once. Shape: one corpus aggregate to the O(1000-cent
  // buckets, slice) table; every window runs on that bounded table.
  val q184: QueryDef = QueryDef.sql(
    "q184_ks_drift",
    """WITH o AS (
      |  SELECT (epoch_us(o_orderdate) // 86400000000) % 2 AS sl,
      |    CAST(round(o_totalprice * 100) AS BIGINT) // 100000 AS b
      |  FROM orders),
      |h AS (
      |  SELECT b,
      |    CAST(count(CASE WHEN sl = 0 THEN 1 END) AS BIGINT) AS c0,
      |    CAST(count(CASE WHEN sl = 1 THEN 1 END) AS BIGINT) AS c1
      |  FROM o GROUP BY b),
      |c AS (
      |  SELECT b,
      |    sum(c0) OVER (ORDER BY b) AS cum0,
      |    sum(c1) OVER (ORDER BY b) AS cum1,
      |    sum(c0) OVER () AS n0, sum(c1) OVER () AS n1
      |  FROM h),
      |d AS (
      |  SELECT b, abs(cum0 * n1 - cum1 * n0) AS dn, n0, n1
      |  FROM c),
      |m AS (SELECT max(dn) AS mx FROM d),
      |agg AS (
      |  SELECT max(d.n0) AS n0x, max(d.n1) AS n1x, max(m.mx) AS mx,
      |    min(CASE WHEN d.dn = m.mx THEN d.b END) AS at_b
      |  FROM d CROSS JOIN m)
      |SELECT
      |  CAST(n0x AS BIGINT) AS n0, CAST(n1x AS BIGINT) AS n1,
      |  round(CAST(mx AS DOUBLE)
      |    / (CAST(n0x AS DOUBLE) * n1x), 6) AS ks_d,
      |  round(1.358 * sqrt(CAST(n0x + n1x AS DOUBLE)
      |    / (CAST(n0x AS DOUBLE) * n1x)), 6) AS ks_crit_05,
      |  (CAST(mx AS DOUBLE) / (CAST(n0x AS DOUBLE) * n1x))
      |    > (1.358 * sqrt(CAST(n0x + n1x AS DOUBLE)
      |      / (CAST(n0x AS DOUBLE) * n1x))) AS drift_flag,
      |  CAST(at_b AS BIGINT) AS at_bucket
      |FROM agg""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select(
      expr("(unix_micros(cast(o_orderdate as timestamp)) div 86400000000) % 2")
        .as("sl"),
      expr("cast(round(o_totalprice * 100) as bigint) div 100000").as("b"))
    val h = o.groupBy("b").agg(
      sum(when(col("sl") === 0, 1L).otherwise(0L)).as("c0"),
      sum(when(col("sl") === 1, 1L).otherwise(0L)).as("c1"))
    val wCum = Window.orderBy("b")
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dTab = h
      .withColumn("cum0", sum("c0").over(wCum))
      .withColumn("cum1", sum("c1").over(wCum))
      .withColumn("n0", sum("c0").over(wAll))
      .withColumn("n1", sum("c1").over(wAll))
      .select(col("b"),
        abs(col("cum0") * col("n1") - col("cum1") * col("n0")).as("dn"),
        col("n0"), col("n1"))
    val mx = dTab.agg(max("dn").as("mx"))
    dTab.crossJoin(broadcast(mx))
      .groupBy("mx")
      .agg(max("n0").as("n0x"), max("n1").as("n1x"),
        min(when(col("dn") === col("mx"), col("b"))).as("at_b"))
      .select(
        col("n0x").as("n0"), col("n1x").as("n1"),
        round(col("mx").cast("double")
          / (col("n0x").cast("double") * col("n1x")), 6).as("ks_d"),
        round(lit(1.358) * sqrt((col("n0x") + col("n1x")).cast("double")
          / (col("n0x").cast("double") * col("n1x"))), 6).as("ks_crit_05"),
        (col("mx").cast("double")
          / (col("n0x").cast("double") * col("n1x"))
          > lit(1.358) * sqrt((col("n0x") + col("n1x")).cast("double")
            / (col("n0x").cast("double") * col("n1x")))).as("drift_flag"),
        col("at_b").as("at_bucket"))
  }

  // q185 — WEIGHTED PERCENTILES per group (q12 weights every row
  // equally; pricing/capacity questions weight by VOLUME — "the price
  // at which half the shipped QUANTITY clears" is a different number
  // from the median line price): weighted p50/p90 of line price with
  // l_quantity as integer weight, via the integer-ceil rank rule over
  // 1000-cent value buckets (the q171/q181 histogram discipline — the
  // contract is quantiles of the BUCKETED distribution, so cumulative
  // windows run on O(buckets) rows per group, never O(lines)). Weights,
  // cumulative weights, and the ceil targets are all exact int64; cut
  // selection is min-bucket-at-target — an integer decision needing no
  // rounding anywhere.
  val q185: QueryDef = QueryDef.sql(
    "q185_weighted_percentile",
    """WITH li AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) // 100000 AS b,
      |    CAST(l_quantity AS BIGINT) AS w
      |  FROM lineitem),
      |h AS (
      |  SELECT flag, b, CAST(sum(w) AS BIGINT) AS wb
      |  FROM li GROUP BY flag, b),
      |c AS (
      |  SELECT flag, b, wb,
      |    sum(wb) OVER (PARTITION BY flag ORDER BY b) AS cumw,
      |    sum(wb) OVER (PARTITION BY flag) AS totw
      |  FROM h)
      |SELECT flag,
      |  CAST(max(totw) AS BIGINT) AS total_weight,
      |  CAST(min(CASE WHEN cumw >= (totw + 1) // 2 THEN b END) * 100000
      |    AS BIGINT) AS p50_bucket_cents,
      |  CAST(min(CASE WHEN cumw >= (9 * totw + 9) // 10 THEN b END) * 100000
      |    AS BIGINT) AS p90_bucket_cents
      |FROM c
      |GROUP BY flag
      |ORDER BY flag""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d).select(
      col("l_returnflag").as("flag"),
      expr("cast(round(l_extendedprice * 100) as bigint) div 100000").as("b"),
      expr("cast(l_quantity as bigint)").as("w"))
    val h = li.groupBy("flag", "b").agg(sum("w").as("wb"))
    val wCum = Window.partitionBy("flag").orderBy("b")
    val wAll = Window.partitionBy("flag")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    h.withColumn("cumw", sum("wb").over(wCum))
      .withColumn("totw", sum("wb").over(wAll))
      .groupBy("flag")
      .agg(
        max("totw").as("total_weight"),
        (min(when(col("cumw") >= expr("(totw + 1) div 2"), col("b")))
          * 100000L).as("p50_bucket_cents"),
        (min(when(col("cumw") >= expr("(9 * totw + 9) div 10"), col("b")))
          * 100000L).as("p90_bucket_cents"))
      .orderBy("flag")
  }

  // q186 — BENFORD FIRST-DIGIT AUDIT (the forensic-accounting staple:
  // natural multi-scale amounts follow P(d) = log10(1+1/d); invoiced or
  // synthesized amounts that DON'T are the anomaly — and this corpus's
  // uniform-ish prices are exactly such a deviation, which the audit
  // surfaces honestly rather than hides). First digit extracted via
  // bigint→string (log10-on-double near powers of ten is an
  // engine-portability hazard; string heads are exact in both). Output
  // is per-digit: observed count, observed frequency, Benford expectancy,
  // and that digit's chi-square contribution (n_d − N·p)²/(N·p) — each
  // row a PER-ROW expression from integers and literals, so nothing
  // multi-term needs rounding discipline; the 9-row table sums to the
  // audit statistic client-side. One corpus aggregate, 9 rows out.
  val q186: QueryDef = QueryDef.sql(
    "q186_benford_audit",
    """WITH d AS (
      |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
      |      AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM orders),
      |h AS (
      |  SELECT digit, count(*) AS n FROM d GROUP BY digit),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM h)
      |SELECT digit, CAST(n AS BIGINT) AS n,
      |  round(CAST(n AS DOUBLE) / tot, 6) AS freq,
      |  round((ln(1.0 + 1.0 / digit) / ln(10.0)), 6) AS benford_p,
      |  round((CAST(n AS DOUBLE) - tot * (ln(1.0 + 1.0 / digit) / ln(10.0)))
      |    * (CAST(n AS DOUBLE) - tot * (ln(1.0 + 1.0 / digit) / ln(10.0)))
      |    / (tot * (ln(1.0 + 1.0 / digit) / ln(10.0))), 6) AS chi2_contrib
      |FROM h CROSS JOIN t
      |ORDER BY digit""".stripMargin) { (s, d) =>
    val dig = Tables.orders(s, d).select(
      expr("cast(substr(cast(cast(round(o_totalprice * 100) as bigint) as string), 1, 1) as bigint)")
        .as("digit"))
    val h = dig.groupBy("digit").agg(count(lit(1)).as("n"))
    val t = h.agg(sum("n").as("tot"))
    val p = log(10.0, lit(1.0) + lit(1.0) / col("digit"))
    val dev = col("n").cast("double") - col("tot") * p
    h.crossJoin(broadcast(t))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("tot"), 6).as("freq"),
        round(p, 6).as("benford_p"),
        round(dev * dev / (col("tot") * p), 6).as("chi2_contrib"))
      .orderBy("digit")
  }

  // q190 — CUSUM CHANGEPOINT DETECTION, integer-exact (the "WHEN did
  // the level shift" question q96/q147 don't answer — they score
  // single hours against local baselines; CUSUM finds the global
  // partition point where the before/after means differ most): over
  // hourly event counts, the textbook statistic max_k |Σ_{i≤k}(n_i−μ)|
  // compares double deviations — so, q184's cross-multiplication
  // trick: scale by K = #hours, d_i = K·n_i − N (exact int64, sums to
  // zero), and the max-|cusum| argmax becomes a pure integer decision
  // with a min-hour tiebreak. Only the normalized magnitude
  // |cusum*|/(K·N) rounds once at the end. Shape: one corpus
  // aggregate to the O(hours) count table; the cumulative window runs
  // on that bounded table (the documented exception); 1 row out with
  // before/after mean rates as single rounded divisions.
  val q190: QueryDef = QueryDef.sql(
    "q190_cusum_changepoint",
    """WITH h AS (
      |  SELECT epoch_us(ts) // 3600000000 AS hr, count(*) AS n
      |  FROM events GROUP BY 1),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |             CAST(sum(n) AS BIGINT) AS tot FROM h),
      |c AS (
      |  SELECT hr, n,
      |    sum(t.k * n - t.tot) OVER (ORDER BY hr) AS cusum,
      |    sum(n) OVER (ORDER BY hr) AS cum_n,
      |    row_number() OVER (ORDER BY hr) AS pos,
      |    t.k AS k, t.tot AS tot
      |  FROM h CROSS JOIN t),
      |m AS (SELECT max(abs(cusum)) AS mx FROM c),
      |best AS (
      |  SELECT min(hr) AS cp_hr FROM c CROSS JOIN m WHERE abs(c.cusum) = m.mx),
      |cp AS (
      |  SELECT c.* FROM c JOIN best ON c.hr = best.cp_hr)
      |SELECT
      |  CAST(cp.k AS BIGINT) AS n_hours, CAST(cp.tot AS BIGINT) AS n_events,
      |  CAST(cp.hr * 3600000000 AS BIGINT) AS changepoint_us,
      |  CAST(cp.cusum AS BIGINT) AS cusum_scaled,
      |  round(abs(CAST(cp.cusum AS DOUBLE)) / (CAST(cp.k AS DOUBLE) * cp.tot), 6)
      |    AS magnitude,
      |  round(CAST(cp.cum_n AS DOUBLE) / cp.pos, 6) AS mean_before,
      |  round(CAST(cp.tot - cp.cum_n AS DOUBLE) / (cp.k - cp.pos), 6)
      |    AS mean_after
      |FROM cp""".stripMargin) { (s, d) =>
    val h = Tables.events(s, d)
      .groupBy(expr("ts_us div 3600000000").as("hr"))
      .agg(count(lit(1)).as("n"))
    val t = h.agg(count(lit(1)).as("k"), sum("n").as("tot"))
    val wCum = Window.orderBy("hr")
    val c = h.crossJoin(broadcast(t))
      .withColumn("cusum", sum(col("k") * col("n") - col("tot")).over(wCum))
      .withColumn("cum_n", sum("n").over(wCum))
      .withColumn("pos", row_number().over(wCum))
    val m = c.agg(max(abs(col("cusum"))).as("mx"))
    c.crossJoin(broadcast(m))
      .filter(abs(col("cusum")) === col("mx"))
      .groupBy("k", "tot", "mx")
      .agg(min(struct(col("hr"), col("cusum"), col("cum_n"), col("pos")))
        .as("b"))
      .select(
        col("k").as("n_hours"), col("tot").as("n_events"),
        (col("b.hr") * 3600000000L).as("changepoint_us"),
        col("b.cusum").as("cusum_scaled"),
        round(abs(col("b.cusum").cast("double"))
          / (col("k").cast("double") * col("tot")), 6).as("magnitude"),
        round(col("b.cum_n").cast("double") / col("b.pos"), 6)
          .as("mean_before"),
        round((col("tot") - col("b.cum_n")).cast("double")
          / (col("k") - col("b.pos")), 6).as("mean_after"))
  }

  // q191 — SEASONAL DECOMPOSITION, STL-lite (the time-series triad
  // trend + seasonal + residual: q147 SCORES hours against a seasonal
  // profile, this EXTRACTS the components — the starting point of any
  // forecast or capacity plan): hourly counts → trend = centered ±12 h
  // moving average (one division of exact integer window sums — edge
  // windows keep their true row count, no padding lie), detrended =
  // n − trend (single IEEE ops, engine-identical unrounded), seasonal =
  // per-hour-of-day mean of detrended (multi-term double → house
  // rounding), residual RMS against the ROUNDED seasonal so both
  // engines subtract the same number. Shape: one corpus aggregate to
  // the O(hours) table; the trend window and the O(24) seasonal rollup
  // both run on bounded rows. 24-row output.
  val q191: QueryDef = QueryDef.sql(
    "q191_seasonal_decompose",
    """WITH h AS (
      |  SELECT epoch_us(ts) // 3600000000 AS hr, count(*) AS n
      |  FROM events GROUP BY 1),
      |tr AS (
      |  SELECT hr, n, hr % 24 AS hod,
      |    CAST(sum(n) OVER w AS DOUBLE) / count(n) OVER w AS trend
      |  FROM h
      |  WINDOW w AS (ORDER BY hr ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
      |se AS (
      |  SELECT hod, count(*) AS n_obs,
      |    round(avg(n - trend), 6) AS seasonal
      |  FROM tr GROUP BY hod)
      |SELECT se.hod, CAST(se.n_obs AS BIGINT) AS n_obs, se.seasonal,
      |  round(sqrt(avg((tr.n - tr.trend - se.seasonal)
      |    * (tr.n - tr.trend - se.seasonal))), 6) AS resid_rms
      |FROM tr JOIN se ON tr.hod = se.hod
      |GROUP BY se.hod, se.n_obs, se.seasonal
      |ORDER BY se.hod""".stripMargin) { (s, d) =>
    val h = Tables.events(s, d)
      .groupBy(expr("ts_us div 3600000000").as("hr"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy("hr").rowsBetween(-12, 12)
    val tr = h
      .withColumn("hod", col("hr") % 24)
      .withColumn("trend",
        sum("n").over(w).cast("double") / count("n").over(w))
    val se = tr.groupBy("hod").agg(
      count(lit(1)).as("n_obs"),
      round(avg(col("n") - col("trend")), 6).as("seasonal"))
    tr.join(se, "hod")
      .groupBy("hod", "n_obs", "seasonal")
      .agg(round(sqrt(avg(
        (col("n") - col("trend") - col("seasonal"))
          * (col("n") - col("trend") - col("seasonal")))), 6)
        .as("resid_rms"))
      .select(col("hod"), col("n_obs"), col("seasonal"), col("resid_rms"))
      .orderBy("hod")
  }

  // q192 — FORECAST BACKTEST, integer-exact (the skill-score readout
  // that closes the q147/q190/q191 time-series family: BEFORE anyone
  // trusts a forecasting model, the question is whether it beats the
  // free baselines — and by how much, measured on held-out history):
  // one-step-ahead backtest of two zero-parameter forecasters over
  // hourly counts — naive (previous hour's count) and seasonal-naive
  // (same hour yesterday, 24 rows back) — scored where BOTH have a
  // forecast. Both forecasts are PRIOR OBSERVED COUNTS (lag windows
  // over the O(hours) table), so absolute errors are exact integers,
  // MAEs are single rounded divisions, and the skill ratio
  // naive/seasonal is one more — a skill > 1 says daily seasonality is
  // real signal a model must beat, not decoration. One corpus
  // aggregate; lag windows on bounded rows; 1-row output.
  val q192: QueryDef = QueryDef.sql(
    "q192_forecast_backtest",
    """WITH h AS (
      |  SELECT epoch_us(ts) // 3600000000 AS hr, count(*) AS n
      |  FROM events GROUP BY 1),
      |f AS (
      |  SELECT hr, n,
      |    lag(n, 1) OVER (ORDER BY hr) AS f_naive,
      |    lag(n, 24) OVER (ORDER BY hr) AS f_seasonal
      |  FROM h),
      |s AS (SELECT * FROM f WHERE f_naive IS NOT NULL
      |      AND f_seasonal IS NOT NULL)
      |SELECT
      |  CAST(count(*) AS BIGINT) AS n_scored,
      |  CAST(sum(abs(n - f_naive)) AS BIGINT) AS abs_err_naive,
      |  CAST(sum(abs(n - f_seasonal)) AS BIGINT) AS abs_err_seasonal,
      |  round(CAST(sum(abs(n - f_naive)) AS DOUBLE) / count(*), 6)
      |    AS mae_naive,
      |  round(CAST(sum(abs(n - f_seasonal)) AS DOUBLE) / count(*), 6)
      |    AS mae_seasonal,
      |  round(CAST(sum(abs(n - f_naive)) AS DOUBLE)
      |    / sum(abs(n - f_seasonal)), 6) AS skill_vs_naive
      |FROM s""".stripMargin) { (s, d) =>
    val h = Tables.events(s, d)
      .groupBy(expr("ts_us div 3600000000").as("hr"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy("hr")
    h.withColumn("f_naive", lag("n", 1).over(w))
      .withColumn("f_seasonal", lag("n", 24).over(w))
      .filter(col("f_naive").isNotNull && col("f_seasonal").isNotNull)
      .agg(
        count(lit(1)).as("n_scored"),
        sum(abs(col("n") - col("f_naive"))).as("abs_err_naive"),
        sum(abs(col("n") - col("f_seasonal"))).as("abs_err_seasonal"),
        round(sum(abs(col("n") - col("f_naive"))).cast("double")
          / count(lit(1)), 6).as("mae_naive"),
        round(sum(abs(col("n") - col("f_seasonal"))).cast("double")
          / count(lit(1)), 6).as("mae_seasonal"),
        round(sum(abs(col("n") - col("f_naive"))).cast("double")
          / sum(abs(col("n") - col("f_seasonal"))), 6).as("skill_vs_naive"))
  }

  /** Exact per-group quantile WITHOUT a corpus-sized per-group window —
    * the two-level rank pattern (q179's prefix sums, q103's boundary
    * keys) applied to order statistics. q12's shape (one window over the
    * whole per-group value histogram) is exact but funnels each group's
    * distinct values through one task; here the corpus-sized work stays
    * in hash aggregates and the windows only ever see bounded tables:
    *
    *  1. value histogram (one corpus shuffle, map-side partial),
    *  2. BUCKET histogram (floor(value/width) — O(groups·range/width)
    *     rows) → per-group bucket prefix sums find the ≤2 buckets
    *     containing the quantile's floor/ceil ranks,
    *  3. rank window over the BOUNDARY BUCKETS ONLY (≈ cnt/buckets rows
    *     per group, broadcast-joined) picks the endpoint values,
    *  4. the q12 interpolation form ((ceil(r)−r)·lo + (r−floor(r))·hi —
    *     the exact IEEE op order quantile_cont uses) yields the value.
    *
    * Input `hist`: (groupCols…, valCol, cnt). Output: (groupCols…, n,
    * outCol), n = group row count.
    */
  private[graft] def exactGroupQuantile(hist: DataFrame, groupCols: Seq[String],
      valCol: String, p: Double, outCol: String,
      bucketWidth: Double = 1024.0): DataFrame = {
    val g = groupCols.map(col)
    exactGroupQuantiles(hist, groupCols, valCol, Seq(p -> outCol), bucketWidth)
      .select(g :+ col("n") :+ col(outCol): _*)
  }

  /** Multi-p [[exactGroupQuantile]]: ALL requested quantiles of the same
    * histogram in ONE bucket pass + ONE boundary join (r13 — q199 was
    * paying the full chain three times for q1/med/q3 of one histogram).
    * The per-p arithmetic is expression-for-expression the single-p
    * form's (same IEEE interpolation), just keyed by an extra literal
    * `q_p` column, so outputs are bit-identical. Output: (groupCols…, n,
    * one column per requested quantile).
    */
  private[graft] def exactGroupQuantiles(hist: DataFrame,
      groupCols: Seq[String], valCol: String, ps: Seq[(Double, String)],
      bucketWidth: Double = 1024.0): DataFrame = {
    val g = groupCols.map(col)
    val stats = exactGroupOrderStats(hist, groupCols, valCol, ps, bucketWidth)
    val interp = when(floor(col("qr")) === ceil(col("qr")), col("qlo"))
      .otherwise((ceil(col("qr")) - col("qr")) * col("qlo") +
        (col("qr") - floor(col("qr"))) * col("qhi"))
    // pivot the ≤|ps| rows per group back to one column per quantile —
    // a bounded conditional aggregate, never a corpus op
    val perP = stats.select(g :+ col("n") :+ col("q_p") :+ interp.as("q_v"): _*)
    perP.groupBy(g: _*).agg(
      max(col("n")).as("n"),
      ps.map { case (p, name) =>
        max(when(col("q_p") === lit(p), col("q_v"))).as(name)
      }: _*)
  }

  /** The selection core shared by [[exactGroupQuantiles]] and q218's
    * exact pair-slope median: per (group, p) the EXACT order statistics
    * at ranks floor(p·(n−1)) and ceil(p·(n−1)) — `qlo`/`qhi` — plus `n`
    * and the fractional rank `qr`, located via bucket prefix sums +
    * a rank window over the boundary buckets only (never a per-group
    * corpus sort). Callers apply their own combining arithmetic so
    * IEEE op order matches whatever form their oracle replays.
    */
  private[graft] def exactGroupOrderStats(hist: DataFrame,
      groupCols: Seq[String], valCol: String, ps: Seq[(Double, String)],
      bucketWidth: Double = 1024.0): DataFrame = {
    val g = groupCols.map(col)
    val bhist = hist
      .groupBy(g :+ floor(col(valCol) / lit(bucketWidth)).as("qbucket"): _*)
      .agg(sum("cnt").as("bcnt"))
    val wB = Window.partitionBy(g: _*).orderBy("qbucket")
    val bcum = bhist
      .withColumn("bcum_end",
        sum("bcnt").over(wB.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("bcum_start", col("bcum_end") - col("bcnt"))
      .withColumn("n",
        sum("bcnt").over(wB.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // buckets holding either endpoint rank of SOME requested p:
    // [start,end) ∋ floor(r) or ceil(r) ⇔ start <= ceil(r) ∧ floor(r) <
    // end (ceil−floor ≤ 1). One boundary row per (group, p) bucket hit —
    // a bucket serving two ps appears once per p, tagged by the literal.
    val boundary = ps.map { case (p, _) =>
      val r = lit(p) * (col("n") - 1).cast("double")
      bcum
        .filter(col("bcum_start") <= ceil(r) && floor(r) < col("bcum_end"))
        .select(g :+ col("qbucket") :+ col("bcum_start") :+ col("n") :+
          lit(p).as("q_p"): _*)
    }.reduce(_ unionByName _)
    val wV = Window.partitionBy(g :+ col("q_p") :+ col("qbucket"): _*)
      .orderBy(valCol)
    val ranked = hist
      .withColumn("qbucket", floor(col(valCol) / lit(bucketWidth)))
      .join(broadcast(boundary), groupCols :+ "qbucket")
      .withColumn("cum_end", col("bcum_start") +
        sum("cnt").over(wV.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_start", col("cum_end") - col("cnt"))
    val r = col("q_p") * (col("n") - 1).cast("double")
    ranked.groupBy(g :+ col("q_p"): _*).agg(
      max(col("n")).as("n"),
      max(r).as("qr"),
      max(when(col("cum_start") <= floor(r) && floor(r) < col("cum_end"),
        col(valCol))).as("qlo"),
      max(when(col("cum_start") <= ceil(r) && ceil(r) < col("cum_end"),
        col(valCol))).as("qhi"))
  }

  // q195 — ROBUST outlier detection (median/MAD): q96 z-scores against
  // mean/σ, which heavy outliers themselves inflate (masking); the
  // median/MAD cutoff (|x − med| > 3·1.4826·MAD, the σ-consistent
  // scaling) has a 50% breakdown point. Exactness discipline: both
  // medians come from exactGroupQuantile (the same interpolation IEEE
  // form DuckDB's quantile_cont uses — proven by q12), deviations are
  // per-row single IEEE subtractions of an identical med, and the cutoff
  // comparison multiplies identical doubles — every decision
  // engine-deterministic, nothing rounded. Scale shape: two corpus-sized
  // hash aggregates (value + deviation histograms), two broadcast joins
  // of O(groups) stat rows back onto the fact; windows only touch
  // bounded bucket tables (exactGroupQuantile scaladoc) — no per-group
  // corpus sort anywhere.
  val q195: QueryDef = QueryDef.sql(
    "q195_mad_outliers",
    """WITH med AS (
      |  SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
      |  FROM orders GROUP BY o_orderpriority),
      |dev AS (
      |  SELECT o.o_orderpriority, m.med,
      |    abs(o.o_totalprice - m.med) AS adev
      |  FROM orders o JOIN med m USING (o_orderpriority)),
      |mad AS (
      |  SELECT o_orderpriority, quantile_cont(adev, 0.5) AS mad
      |  FROM dev GROUP BY o_orderpriority)
      |SELECT d.o_orderpriority, count(*) AS n,
      |  max(d.med) AS med, max(m.mad) AS mad,
      |  CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers
      |FROM dev d JOIN mad m USING (o_orderpriority)
      |GROUP BY d.o_orderpriority
      |ORDER BY d.o_orderpriority""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select(col("o_orderpriority"), col("o_totalprice"))
    val hist = o.groupBy("o_orderpriority", "o_totalprice")
      .agg(count(lit(1)).as("cnt"))
    // each quantile result is O(groups) — localize it (bounded driver
    // read, exact doubles pass through unchanged) so the downstream
    // lineage carries a literal stat table instead of the quantile
    // subtree: left embedded, the final aggregate re-evaluates the
    // nested med→dev→mad chain and the fact table is scanned ~9x;
    // localized, it is scanned 5x (2 per quantile + the final agg)
    def localize(df: DataFrame): DataFrame = {
      val rows = df.take(1024)
      require(rows.length < 1024, "stat-table driver read overflow")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    }
    val med = localize(exactGroupQuantile(hist, Seq("o_orderpriority"),
      "o_totalprice", 0.5, "med").select("o_orderpriority", "med"))
    val dev = o.join(broadcast(med), "o_orderpriority")
      .withColumn("adev", abs(col("o_totalprice") - col("med")))
    val dhist = dev.groupBy("o_orderpriority", "adev")
      .agg(count(lit(1)).as("cnt"))
    val mad = localize(exactGroupQuantile(dhist, Seq("o_orderpriority"),
      "adev", 0.5, "mad").select("o_orderpriority", "mad"))
    dev.join(broadcast(mad), "o_orderpriority")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), max("med").as("med"), max("mad").as("mad"),
        sum(when(col("adev") > lit(3) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).cast("bigint").as("n_outliers"))
      .orderBy("o_orderpriority")
  }

  // q197 — ROLLING ACTIVE USERS (DAU / 7-day WAU / stickiness): the
  // product-health staple q93's weekly cohorts don't give — for every
  // observed day, how many distinct users were active that day and in
  // the trailing 7-day window, and their ratio (DAU/WAU stickiness).
  // Calendar keys are pure integer epoch arithmetic (q147's convention
  // — engine-exact, no date-function semantics in play); stickiness is
  // one per-row IEEE division of exact counts, unrounded by house rule.
  // Scale shape: the corpus collapses to distinct (day, user) pairs in
  // ONE map-side-combined shuffle — the only corpus-sized exchange.
  // Each pair then EXPLODES to the ≤7 windows it serves (windows never
  // scan events; the 7x fan-out multiplies pairs, not events), a
  // broadcast semi-filter keeps observed days, and the second distinct
  // is pair-bounded. The window-as-explode shape beats the per-day
  // range self-join (days x pairs) and the naive COUNT DISTINCT OVER
  // RANGE window (one task per 7-day frame). At extreme scale the
  // approximate substitute is q169's per-day HLL table with 7-day
  // register unions — O(days·7) sketch merges, no pair set at all.
  val q197: QueryDef = QueryDef.sql(
    "q197_rolling_active",
    """WITH pairs AS (
      |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
      |  FROM events),
      |days AS (SELECT DISTINCT day FROM pairs),
      |contrib AS (
      |  SELECT DISTINCT w.day, p.user_id
      |  FROM pairs p JOIN days w ON w.day BETWEEN p.day AND p.day + 6),
      |wau AS (
      |  SELECT day, CAST(count(*) AS BIGINT) AS wau
      |  FROM contrib GROUP BY day),
      |dau AS (
      |  SELECT day, CAST(count(*) AS BIGINT) AS dau
      |  FROM pairs GROUP BY day)
      |SELECT day, dau, wau,
      |  CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
      |FROM dau JOIN wau USING (day)
      |ORDER BY day""".stripMargin) { (s, d) =>
    val pairs = Tables.events(s, d)
      .select(expr("ts_us div 86400000000").as("day"), col("user_id"))
      .distinct()
    val days = pairs.select("day").distinct()
    val wau = pairs
      .select(explode(expr("sequence(day, day + 6)")).as("day"),
        col("user_id"))
      .join(broadcast(days), "day")
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    val dau = pairs.groupBy("day").agg(count(lit(1)).as("dau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double"))
          .as("stickiness"))
      .orderBy("day")
  }

  // q198 — JOIN CARDINALITY AUDIT: predict a join's output size from
  // per-key count tables WITHOUT running the join — the planning
  // pre-pass that decides broadcast vs sort-merge vs salt/decline
  // before committing a cluster to it (q108 diagnoses skew after the
  // fact; this predicts the blow-up first — the q52-class self-join
  // pair explosion being the most expensive mistake to discover at run
  // time). Audited join: lineitem self-join on l_partkey. Three
  // estimators, each a row: `uniform` (System R: n²/d — what a stats-
  // only optimizer assumes), `heavy_hitter` (top-20 keys exact +
  // uniform residual — NDV stats plus a frequent-key sketch, what a
  // real planner can afford at 100 TB), `exact_per_key` (Σc(k)² over
  // the full count table — the ground truth, itself computed without
  // materializing a single joined row). All arithmetic stays in BIGINT
  // (floor division, both engines), rel_error is one IEEE division.
  // Scale shape: ONE map-side-combined shuffle builds the count table;
  // everything after is O(distinct keys) — stats aggregate to one row,
  // heavy hitters are a bounded top-20 sort push-down, the exact sum is
  // a second pass over counts, never over data.
  val q198: QueryDef = QueryDef.sql(
    "q198_join_cardinality_audit",
    """WITH c AS (
      |  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY l_partkey),
      |s AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS d
      |  FROM c),
      |hh AS (SELECT k, c FROM c ORDER BY c DESC, k LIMIT 20),
      |hhs AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS hn,
      |    CAST(count(*) AS BIGINT) AS hd,
      |    CAST(sum(c * c) AS BIGINT) AS hrows
      |  FROM hh),
      |ex AS (SELECT CAST(sum(c * c) AS BIGINT) AS xrows FROM c),
      |models AS (
      |  SELECT 'uniform' AS model, (s.n * s.n) // s.d AS est_rows,
      |    ex.xrows AS exact_rows
      |  FROM s, ex
      |  UNION ALL
      |  SELECT 'heavy_hitter',
      |    hhs.hrows +
      |      ((s.n - hhs.hn) * (s.n - hhs.hn)) // greatest(s.d - hhs.hd, 1),
      |    ex.xrows
      |  FROM s, hhs, ex
      |  UNION ALL
      |  SELECT 'exact_per_key', ex.xrows, ex.xrows FROM ex)
      |SELECT model, est_rows, exact_rows,
      |  CAST(est_rows - exact_rows AS DOUBLE) / exact_rows AS rel_error
      |FROM models
      |ORDER BY model""".stripMargin) { (s, d) =>
    // the count table fans out to the stats pass and the heavy-hitter
    // pass — persist it (it IS the reusable planner artifact), fold the
    // global stats and the exact sum into ONE aggregate, and evaluate
    // the 3-row result eagerly so the cache releases inside the call
    val c = Tables.lineitem(s, d).groupBy(col("l_partkey").as("k"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val se = c.agg(sum("c").as("n"), count(lit(1)).as("d"),
      sum(col("c") * col("c")).as("xrows"))
    val hhs = c.orderBy(desc("c"), asc("k")).limit(20)
      .agg(sum("c").as("hn"), count(lit(1)).as("hd"),
        sum(col("c") * col("c")).as("hrows"))
    val both = se.crossJoin(hhs)
    val uniform = both.select(lit("uniform").as("model"),
      expr("(n * n) div d").as("est_rows"), col("xrows").as("exact_rows"))
    val heavy = both.select(lit("heavy_hitter").as("model"),
      (col("hrows") + expr(
        "((n - hn) * (n - hn)) div greatest(d - hd, 1L)")).as("est_rows"),
      col("xrows").as("exact_rows"))
    val exact = both.select(lit("exact_per_key").as("model"),
      col("xrows").as("est_rows"), col("xrows").as("exact_rows"))
    val out = uniform.unionByName(heavy).unionByName(exact)
      .select(col("model"), col("est_rows"), col("exact_rows"),
        ((col("est_rows") - col("exact_rows")).cast("double") /
          col("exact_rows").cast("double")).as("rel_error"))
      .orderBy("model")
    val rows = out.take(8)
    c.unpersist(false)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  // q202 — BOOTSTRAP CONFIDENCE INTERVAL on the per-type mean value,
  // fully deterministic (the uncertainty companion to q167's test and
  // q168's drift monitor: a point estimate without an interval invites
  // overreading 1-replicate noise). Poisson bootstrap: each row's
  // resample count in replicate r is Poisson(1)⁻¹CDF of a portable-hash
  // uniform (q156's LCG form — identical BIGINT arithmetic in both
  // engines; tail truncated at 5, P ≈ 6e-4, documented), so the whole
  // procedure replays hash-exactly — no RNG, no engine sampler. Money
  // rides as exact cents·count BIGINT sums (order-independent at any
  // scale, the ExactSum argument); each replicate mean is ONE division
  // of exact integers. 90% CI by the discrete rank rule over B=32
  // replicate means (ranks 2 and 31, r as tiebreak). Scale shape: the
  // 32× replicate explode collapses in the map-side partial aggregate —
  // the shuffle carries O(types·B) rows, never corpus×B; the rank
  // windows see 32 rows per type.
  val q202: QueryDef = QueryDef.sql(
    "q202_bootstrap_ci",
    """WITH base AS (
      |  SELECT event_type, event_id,
      |    CAST(ROUND(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |obs AS (
      |  SELECT event_type,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(cents) AS BIGINT) AS scents
      |  FROM base GROUP BY event_type),
      |reps AS (
      |  SELECT b.event_type, r.r,
      |    CASE
      |      WHEN u <= 0.367879 THEN 0 WHEN u <= 0.735759 THEN 1
      |      WHEN u <= 0.919699 THEN 2 WHEN u <= 0.981012 THEN 3
      |      WHEN u <= 0.996340 THEN 4 ELSE 5 END AS c,
      |    b.cents
      |  FROM base b CROSS JOIN (SELECT unnest(range(32)) AS r) r,
      |  LATERAL (SELECT CAST((b.event_id * 2654435761 + r.r * 40503)
      |      % 1000003 AS DOUBLE) / 1000003.0 AS u) u0),
      |rmeans AS (
      |  SELECT event_type, r,
      |    CAST(sum(c * cents) AS BIGINT) AS rs,
      |    CAST(sum(c) AS BIGINT) AS rn
      |  FROM reps GROUP BY event_type, r),
      |ranked AS (
      |  SELECT event_type, r, rs, rn,
      |    CAST(rs AS DOUBLE) / (100.0 * rn) AS rmean,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY CAST(rs AS DOUBLE) / (100.0 * rn), r) AS rk
      |  FROM rmeans)
      |SELECT o.event_type, o.n,
      |  CAST(o.scents AS DOUBLE) / (100.0 * o.n) AS observed_mean,
      |  lo.rmean AS boot_lo, hi.rmean AS boot_hi
      |FROM obs o
      |JOIN ranked lo ON lo.event_type = o.event_type AND lo.rk = 2
      |JOIN ranked hi ON hi.event_type = o.event_type AND hi.rk = 31
      |ORDER BY o.event_type""".stripMargin) { (s, d) =>
    val base = Tables.events(s, d).select(col("event_type"), col("event_id"),
      expr("cast(round(value * 100) as bigint)").as("cents"))
    val obs = base.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("scents"))
    val reps = base
      .select(col("event_type"), col("cents"),
        explode(expr("sequence(0, 31)")).as("r"),
        col("event_id"))
      .withColumn("u", expr(
        "cast((event_id * 2654435761 + r * 40503) % 1000003 as double) / 1000003.0"))
      .withColumn("c",
        when(col("u") <= 0.367879, 0).when(col("u") <= 0.735759, 1)
          .when(col("u") <= 0.919699, 2).when(col("u") <= 0.981012, 3)
          .when(col("u") <= 0.996340, 4).otherwise(5))
      .groupBy("event_type", "r")
      .agg(sum(col("c") * col("cents")).as("rs"), sum("c").as("rn"))
    val ranked = reps
      .withColumn("rmean", col("rs").cast("double") / (lit(100.0) * col("rn")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy("rmean", "r")))
    val lo = ranked.filter(col("rk") === 2)
      .select(col("event_type"), col("rmean").as("boot_lo"))
    val hi = ranked.filter(col("rk") === 31)
      .select(col("event_type"), col("rmean").as("boot_hi"))
    obs.join(lo, "event_type").join(hi, "event_type")
      .select(col("event_type"), col("n"),
        (col("scents").cast("double") / (lit(100.0) * col("n")))
          .as("observed_mean"),
        col("boot_lo"), col("boot_hi"))
      .orderBy("event_type")
  }

  // q205 — autocorrelation function of the hourly event-count series at
  // lags 1..36 (the periodicity detector the q147/q190/q191/q192
  // time-series family still lacked: q191 ASSUMES a 24-hour season and
  // extracts it; ACF is how you LEARN the period — the dominant lag is
  // the seasonal-naive lag q192 should backtest). Per lag L, Pearson
  // correlation of (n_h, n_{h+L}) over the overlapping hour pairs in the
  // cross-multiplied integer form (q184's discipline): every inner sum
  // (Σx, Σy, Σxy, Σx², Σy², n) is an exact int64 over exact counts, so
  //   r = (n·Σxy − Σx·Σy) / (sqrt(n·Σx² − Σx²_tot) · sqrt(n·Σy² − Σy²_tot))
  // is one identical-operand-order expression of exact integers in both
  // engines (IEEE sqrt correctly rounded, one division) — rounded once.
  // Scale shape: ONE corpus aggregate collapses events to the O(hours)
  // count table; the 36 lags ride a bounded hours×lags self-join (both
  // sides the O(hours) table), so corpus size never touches the lag
  // machinery. is_top marks the dominant lag ≥ 2 (lag 1 is trend
  // adjacency, not a period). On THIS corpus the honest answer is "no
  // period": events arrive at a uniform rate, so every |r| sits inside
  // the ~2/√n_hours white-noise band and the top lag is sampling noise —
  // the q167-A/A convention (the detector must NOT hallucinate structure
  // on a null corpus; the spec pins that, plus a dense replay of every
  // r). On data with a real daily cycle the top lag is 24 and becomes
  // q192's seasonal-naive lag.
  val q205: QueryDef = QueryDef.sql(
    "q205_autocorrelation",
    """WITH hourly AS (
      |  SELECT epoch_us(ts) // 3600000000 AS h, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |lags AS (SELECT unnest(range(1, 37)) AS lag),
      |pairs AS (
      |  SELECT l.lag,
      |    CAST(count(*) AS BIGINT) AS np,
      |    CAST(sum(a.n) AS BIGINT) AS sx, CAST(sum(b.n) AS BIGINT) AS sy,
      |    CAST(sum(a.n * b.n) AS BIGINT) AS sxy,
      |    CAST(sum(a.n * a.n) AS BIGINT) AS sxx,
      |    CAST(sum(b.n * b.n) AS BIGINT) AS syy
      |  FROM lags l JOIN hourly a ON true JOIN hourly b ON b.h = a.h + l.lag
      |  GROUP BY l.lag),
      |acf AS (
      |  SELECT lag, np,
      |    round((CAST(np AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |      / (sqrt(CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |         * sqrt(CAST(np AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 8) AS r
      |  FROM pairs)
      |SELECT lag, np, r,
      |  lag = (SELECT min(lag) FROM acf x
      |         WHERE x.lag >= 2 AND x.r = (SELECT max(r) FROM acf y WHERE y.lag >= 2))
      |    AS is_top
      |FROM acf
      |ORDER BY lag""".stripMargin) { (s, d) =>
    val hourly = Tables.events(s, d)
      .groupBy(expr("ts_us div 3600000000").as("h"))
      .agg(count(lit(1)).as("n"))
    val lags = s.range(1, 37).toDF("lag")
    val a = hourly.select(col("h").as("ha"), col("n").as("na"))
    val b = hourly.select(col("h").as("hb"), col("n").as("nb"))
    val pairs = a.crossJoin(broadcast(lags))
      .join(b, col("hb") === col("ha") + col("lag"))
      .groupBy("lag")
      .agg(count(lit(1)).as("np"),
        sum("na").as("sx"), sum("nb").as("sy"),
        sum(col("na") * col("nb")).as("sxy"),
        sum(col("na") * col("na")).as("sxx"),
        sum(col("nb") * col("nb")).as("syy"))
    val acf = pairs.select(col("lag"), col("np"),
      round((col("np").cast("double") * col("sxy") - col("sx").cast("double") * col("sy"))
        / (sqrt(col("np").cast("double") * col("sxx") - col("sx").cast("double") * col("sx"))
           * sqrt(col("np").cast("double") * col("syy") - col("sy").cast("double") * col("sy"))),
        8).as("r"))
    // dominant-period pick over the bounded 36-row table (lag 1 excluded:
    // trend adjacency, not a period) — a window over O(lags) rows
    val topLag = acf.filter(col("lag") >= 2)
      .select(min(struct(negate(col("r")), col("lag"))).as("t"))
      .select(col("t.lag").as("top_lag"))
    acf.join(broadcast(topLag))
      .select(col("lag"), col("np"), col("r"),
        (col("lag") === col("top_lag")).as("is_top"))
      .orderBy("lag")
  }

  // q207 — equi-depth (equal-frequency) 16-bin histogram of the line-price
  // distribution: the scale-safe NTILE. The textbook ntile(16) OVER
  // (ORDER BY price) is a single-partition global-sort window — the shape
  // §5 bans; here the corpus collapses ONCE to the bounded 1000-cent
  // bucket table (q171/q181/q185's histogram discipline — the contract is
  // equi-depth at bucket granularity, stated and replayed identically),
  // the cumulative window runs on O(buckets) rows, each bucket's bin is
  // the integer-floor rank rule bin = (cum−1)·16 div N (pure int64 — no
  // rank decision ever rides a float), and per-bin stats (rows, cents
  // bounds, exact cents sum) aggregate the SAME bounded table — the
  // corpus is touched exactly once. Depth skew across bins is reported
  // (max/min rows per bin) — the number that says whether bucket
  // granularity is fine enough for the depth contract.
  val q207: QueryDef = QueryDef.sql(
    "q207_equidepth_histogram",
    """WITH b AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) // 1000 AS bkt,
      |    CAST(count(*) AS BIGINT) AS cnt,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS scents
      |  FROM lineitem GROUP BY 1),
      |c AS (
      |  SELECT bkt, cnt, scents,
      |    sum(cnt) OVER (ORDER BY bkt) AS cum,
      |    (SELECT sum(cnt) FROM b) AS n
      |  FROM b)
      |SELECT CAST((cum - 1) * 16 // n AS BIGINT) AS bin,
      |  CAST(sum(cnt) AS BIGINT) AS rows_in_bin,
      |  min(bkt) * 1000 AS lo_cents,
      |  max(bkt) * 1000 + 999 AS hi_cents,
      |  CAST(sum(scents) AS BIGINT) AS sum_cents
      |FROM c
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    val b = Tables.lineitem(s, d)
      .select(expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      .groupBy(expr("cents div 1000").as("bkt"))
      .agg(count(lit(1)).as("cnt"), sum("cents").as("scents"))
    val n = b.agg(sum("cnt").as("n"))
    val c = b.withColumn("cum",
        sum("cnt").over(Window.orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(n))
    c.groupBy(expr("(cum - 1) * 16 div n").as("bin"))
      .agg(sum("cnt").as("rows_in_bin"),
        (min("bkt") * 1000).as("lo_cents"),
        (max("bkt") * 1000 + 999).as("hi_cents"),
        sum("scents").as("sum_cents"))
      .orderBy("bin")
  }

  // q209 — Spearman (rank) AND Pearson (linear) correlation of quantity vs
  // price per return flag, in ONE corpus scan: the monotone-vs-linear
  // association audit (drift dashboards want both — Spearman is the one a
  // heavy tail can't fake, Pearson the one a nonlinear-but-monotone
  // relationship deflates; disagreement between them IS the finding).
  // The scale discipline is q207's: the textbook Spearman ranks each
  // variable with a global-sort window (rank() OVER (ORDER BY value) —
  // the single-partition shape §5 bans); here the corpus collapses ONCE
  // to the bounded (flag, quantity, price-bucket) joint histogram (the
  // contract is rank correlation at integer-quantity × 1000-cent-bucket
  // granularity, stated and replayed identically by the oracle). Tied
  // ranks use the standard mid-rank treatment, kept EXACT by doubling:
  // r2 = 2·cum_below + cnt + 1 is the integer twice-mid-rank, and Pearson
  // over an affine transform of the ranks is Pearson over the ranks, so
  // the ½ never materializes. All six Spearman sums accumulate as
  // DECIMAL(38,0)/HUGEINT (Σ cnt·r2x·r2y bounds at n·(2n)² ≈ 8.6e23 at
  // sf10 — past int64, inside decimal38; q206's wide-integer argument),
  // Pearson's from per-cell exact cents sums (Σcents² needs the same
  // treatment). Doubles appear only in the final identical-operand-order
  // correlation expressions (correctly-rounded casts of the same exact
  // integers in both engines), rounded once. Shuffles: one corpus
  // aggregate; the rank windows and final joins ride O(domain) tables.
  val q209: QueryDef = QueryDef.sql(
    "q209_rank_correlation",
    """WITH li AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(round(l_quantity) AS BIGINT) AS qv,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM lineitem),
      |j AS (
      |  SELECT flag, qv, cents // 1000 AS pb,
      |    CAST(count(*) AS BIGINT) AS cnt,
      |    CAST(sum(cents) AS BIGINT) AS scents,
      |    CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS scents2
      |  FROM li GROUP BY 1, 2, 3),
      |mx AS (
      |  SELECT flag, qv,
      |    2 * sum(sum(cnt)) OVER (PARTITION BY flag ORDER BY qv)
      |      - sum(cnt) + 1 AS r2x
      |  FROM j GROUP BY flag, qv),
      |my AS (
      |  SELECT flag, pb,
      |    2 * sum(sum(cnt)) OVER (PARTITION BY flag ORDER BY pb)
      |      - sum(cnt) + 1 AS r2y
      |  FROM j GROUP BY flag, pb),
      |t AS (
      |  SELECT j.flag,
      |    CAST(sum(j.cnt) AS BIGINT) AS n,
      |    CAST(sum(CAST(j.cnt AS HUGEINT) * r2x) AS HUGEINT) AS sx,
      |    CAST(sum(CAST(j.cnt AS HUGEINT) * r2y) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(j.cnt AS HUGEINT) * r2x * r2x) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(j.cnt AS HUGEINT) * r2y * r2y) AS HUGEINT) AS syy,
      |    CAST(sum(CAST(j.cnt AS HUGEINT) * r2x * r2y) AS HUGEINT) AS sxy,
      |    CAST(sum(j.cnt * j.qv) AS BIGINT) AS sq,
      |    CAST(sum(j.cnt * j.qv * j.qv) AS BIGINT) AS sqq,
      |    CAST(sum(j.scents) AS BIGINT) AS sc,
      |    CAST(sum(j.scents2) AS HUGEINT) AS scc,
      |    CAST(sum(j.qv * j.scents) AS BIGINT) AS sqc
      |  FROM j JOIN mx ON mx.flag = j.flag AND mx.qv = j.qv
      |         JOIN my ON my.flag = j.flag AND my.pb = j.pb
      |  GROUP BY j.flag)
      |SELECT flag, n,
      |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |       * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 8)
      |    AS spearman,
      |  round((CAST(n AS DOUBLE) * CAST(sqc AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sc AS DOUBLE))
      |    / (sqrt(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
      |       * sqrt(CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))), 8)
      |    AS pearson
      |FROM t
      |ORDER BY flag""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d).select(
      col("l_returnflag").as("flag"),
      expr("cast(round(l_quantity) as bigint)").as("qv"),
      expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
    val j = li.groupBy(col("flag"), col("qv"), expr("cents div 1000").as("pb"))
      .agg(count(lit(1)).as("cnt"),
        sum("cents").as("scents"),
        sum(expr("cast(cents as decimal(19,0)) * cents")).as("scents2"))
    val cum = Window.partitionBy("flag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mx = j.groupBy("flag", "qv").agg(sum("cnt").as("cx"))
      .withColumn("r2x",
        lit(2) * sum("cx").over(cum.orderBy("qv")) - col("cx") + 1)
      .select("flag", "qv", "r2x")
    val my = j.groupBy("flag", "pb").agg(sum("cnt").as("cy"))
      .withColumn("r2y",
        lit(2) * sum("cy").over(cum.orderBy("pb")) - col("cy") + 1)
      .select("flag", "pb", "r2y")
    val t = j.join(broadcast(mx), Seq("flag", "qv"))
      .join(broadcast(my), Seq("flag", "pb"))
      .groupBy("flag")
      .agg(sum("cnt").as("n"),
        sum(expr("cast(cnt as decimal(19,0)) * r2x")).as("sx"),
        sum(expr("cast(cnt as decimal(19,0)) * r2y")).as("sy"),
        sum(expr("cast(cnt as decimal(19,0)) * r2x * r2x")).as("sxx"),
        sum(expr("cast(cnt as decimal(19,0)) * r2y * r2y")).as("syy"),
        sum(expr("cast(cnt as decimal(19,0)) * r2x * r2y")).as("sxy"),
        sum(col("cnt") * col("qv")).as("sq"),
        sum(col("cnt") * col("qv") * col("qv")).as("sqq"),
        sum("scents").as("sc"),
        sum("scents2").as("scc"),
        sum(col("qv") * col("scents")).as("sqc"))
    def corr(n: Column, sxy: Column, sx: Column, sy: Column,
        sxx: Column, syy: Column): Column = {
      def dbl(c: Column) = c.cast("double")
      round((dbl(n) * dbl(sxy) - dbl(sx) * dbl(sy))
        / (sqrt(dbl(n) * dbl(sxx) - dbl(sx) * dbl(sx))
           * sqrt(dbl(n) * dbl(syy) - dbl(sy) * dbl(sy))), 8)
    }
    t.select(col("flag"), col("n"),
      corr(col("n"), col("sxy"), col("sx"), col("sy"),
        col("sxx"), col("syy")).as("spearman"),
      corr(col("n"), col("sqc"), col("sq"), col("sc"),
        col("sqq"), col("scc")).as("pearson"))
      .orderBy("flag")
  }

  // q211 — one-way ANOVA of order value across the five order priorities
  // (the does-this-segmentation-matter test every dashboard grouping
  // implies but rarely states: F near 1 says the priority labels explain
  // nothing about spend — the q167/q184/q209 hypothesis-test family's
  // missing member for one-continuous-vs-one-categorical). Scale shape:
  // ONE corpus aggregate to the O(k)=5-row per-group table (ng, Σcents,
  // Σcents² — the last DECIMAL(38,0)/HUGEINT: cents² sums pass int64 at
  // sf10), then a bounded 5-row reduction. Cross-group determinism is the
  // q209 discipline taken one step further: Σg sg²/ng is a sum of
  // NON-integer terms whose float order would be engine-dependent, so
  // each term is quantized onto the representable-double grid FIRST (one
  // double division of exact ints + one round — both operations
  // bit-identical in the two engines; past 2^53 the round() is a no-op
  // because the double ULP already exceeds 1, so the quantization
  // guarantee is ULP-LEVEL, ~1e-16 relative — not ±0.5 absolute) and
  // the sum of the now-identical terms is order-free because decimal
  // addition of integers is exact. F and η² are then single
  // identical-operand-order double expressions, rounded once.
  val q211: QueryDef = QueryDef.sql(
    "q211_anova_oneway",
    """WITH o AS (
      |  SELECT o_orderpriority AS prio,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |g AS (
      |  SELECT prio, CAST(count(*) AS BIGINT) AS ng,
      |    CAST(sum(cents) AS BIGINT) AS sg,
      |    CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS sg2
      |  FROM o GROUP BY prio),
      |t AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(ng) AS BIGINT) AS n,
      |    CAST(sum(sg) AS HUGEINT) AS s,
      |    CAST(sum(sg2) AS HUGEINT) AS s2,
      |    CAST(sum(CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
      |      / CAST(ng AS DOUBLE)) AS HUGEINT)) AS HUGEINT) AS tb
      |  FROM g),
      |f AS (
      |  SELECT k, n, s2, tb,
      |    CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
      |      / CAST(n AS DOUBLE)) AS HUGEINT) AS sterm
      |  FROM t)
      |SELECT k AS n_groups, n,
      |  round(((CAST(tb AS DOUBLE) - CAST(sterm AS DOUBLE)) / (k - 1))
      |    / ((CAST(s2 AS DOUBLE) - CAST(tb AS DOUBLE)) / (n - k)), 6) AS f_stat,
      |  round((CAST(tb AS DOUBLE) - CAST(sterm AS DOUBLE))
      |    / (CAST(s2 AS DOUBLE) - CAST(sterm AS DOUBLE)), 6) AS eta_sq
      |FROM f""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select(col("o_orderpriority").as("prio"),
      expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    val g = o.groupBy("prio").agg(
      count(lit(1)).as("ng"),
      sum("cents").as("sg"),
      sum(expr("cast(cents as decimal(19,0)) * cents")).as("sg2"))
    val t = g.agg(
      count(lit(1)).as("k"),
      sum("ng").as("n"),
      sum("sg").as("s"),
      sum("sg2").as("s2"),
      sum(expr("cast(round(cast(sg as double) * cast(sg as double)" +
        " / cast(ng as double)) as decimal(38,0))")).as("tb"))
    val f = t.withColumn("sterm",
      expr("cast(round(cast(s as double) * cast(s as double)" +
        " / cast(n as double)) as decimal(38,0))"))
    def dbl(c: String) = col(c).cast("double")
    f.select(col("k").as("n_groups"), col("n"),
      round(((dbl("tb") - dbl("sterm")) / (col("k") - 1))
        / ((dbl("s2") - dbl("tb")) / (col("n") - col("k"))), 6).as("f_stat"),
      round((dbl("tb") - dbl("sterm"))
        / (dbl("s2") - dbl("sterm")), 6).as("eta_sq"))
  }

  // q212 — chi-square independence test of order priority × order status
  // (the two-categoricals member of the hypothesis-test family: q167
  // tests one proportion, q211 one continuous-vs-categorical; this is
  // the segmentation-vs-outcome audit — does status depend on priority —
  // plus Cramér's V so the answer is an effect SIZE, not just a stat).
  // ONE corpus aggregate to the ≤(5×3) contingency table; the FULL grid
  // (including zero cells, which still carry (0−e)²/e mass) forms by
  // crossing the two bounded margins; row/col/grand totals are window
  // sums over that bounded table. Each cell's term uses the
  // cross-multiplied integer form ((o·N − r·c)² / (N·r·c) — numerators
  // exact up to HUGEINT at sf100) and is quantized onto the 1e-8 grid
  // before the cross-cell sum (q211's order-free determinism); chi², df,
  // and Cramér's V are single fixed-order expressions rounded once.
  val q212: QueryDef = QueryDef.sql(
    "q212_chi_square",
    """WITH ct AS (
      |  SELECT o_orderpriority AS prio, o_orderstatus AS st,
      |    CAST(count(*) AS BIGINT) AS o
      |  FROM orders GROUP BY 1, 2),
      |grid AS (
      |  SELECT p.prio, c.st
      |  FROM (SELECT DISTINCT prio FROM ct) p
      |  CROSS JOIN (SELECT DISTINCT st FROM ct) c),
      |cf AS (
      |  SELECT g.prio, g.st, CAST(coalesce(ct.o, 0) AS BIGINT) AS o
      |  FROM grid g LEFT JOIN ct ON ct.prio = g.prio AND ct.st = g.st),
      |w AS (
      |  SELECT prio, st, o,
      |    sum(o) OVER (PARTITION BY prio) AS rt,
      |    sum(o) OVER (PARTITION BY st) AS ctot,
      |    sum(o) OVER () AS n
      |  FROM cf),
      |terms AS (
      |  SELECT prio, st, n,
      |    CAST(round(100000000.0
      |      * ((CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
      |          - CAST(rt AS DOUBLE) * CAST(ctot AS DOUBLE))
      |        * (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
      |          - CAST(rt AS DOUBLE) * CAST(ctot AS DOUBLE)))
      |      / (CAST(n AS DOUBLE) * CAST(rt AS DOUBLE) * CAST(ctot AS DOUBLE)))
      |      AS HUGEINT) AS term8
      |  FROM w),
      |agg AS (
      |  SELECT CAST(max(n) AS BIGINT) AS n,
      |    CAST(count(DISTINCT prio) AS BIGINT) AS nr,
      |    CAST(count(DISTINCT st) AS BIGINT) AS nc,
      |    CAST(sum(term8) AS HUGEINT) AS t8
      |  FROM terms)
      |SELECT n, nr AS n_rows, nc AS n_cols,
      |  CAST((nr - 1) * (nc - 1) AS BIGINT) AS df,
      |  round(CAST(t8 AS DOUBLE) / 100000000.0, 6) AS chi2,
      |  round(sqrt((CAST(t8 AS DOUBLE) / 100000000.0)
      |    / (CAST(n AS DOUBLE) * least(nr - 1, nc - 1))), 6) AS cramers_v
      |FROM agg""".stripMargin) { (s, d) =>
    val ct = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("prio"), col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("o"))
    val grid = ct.select("prio").distinct()
      .crossJoin(ct.select("st").distinct())
    val cf = grid.join(ct, Seq("prio", "st"), "left")
      .select(col("prio"), col("st"), coalesce(col("o"), lit(0L)).as("o"))
    val w = cf
      .withColumn("rt", sum("o").over(Window.partitionBy("prio")))
      .withColumn("ctot", sum("o").over(Window.partitionBy("st")))
      .withColumn("n", sum("o").over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    def dbl(c: String) = col(c).cast("double")
    val num = dbl("o") * dbl("n") - dbl("rt") * dbl("ctot")
    val terms = w.select(col("prio"), col("st"), col("n"),
      round(lit(100000000.0) * (num * num)
        / (dbl("n") * dbl("rt") * dbl("ctot"))).cast("decimal(38,0)").as("term8"))
    terms.agg(
        max("n").as("n"),
        countDistinct("prio").as("nr"),
        countDistinct("st").as("nc"),
        sum("term8").as("t8"))
      .select(col("n"), col("nr").as("n_rows"), col("nc").as("n_cols"),
        ((col("nr") - 1) * (col("nc") - 1)).cast("bigint").as("df"),
        round(col("t8").cast("double") / 100000000.0, 6).as("chi2"),
        round(sqrt((col("t8").cast("double") / 100000000.0)
          / (col("n").cast("double") * least(col("nr") - 1, col("nc") - 1))), 6)
          .as("cramers_v"))
  }

  // q213 — population stability index of the event-value distribution per
  // week vs the first week (the model-monitoring staple next to q184's
  // KS: PSI is symmetric-KL over a FIXED binning — the number risk teams
  // threshold at 0.1/0.25 — and unlike KS it localizes WHICH bins moved).
  // ONE corpus aggregate to the bounded (week × 500-cent-bucket)
  // histogram (the contract stated at that granularity); the full
  // week×bucket grid forms by crossing two bounded margins so absent
  // buckets still count, with +1 Laplace smoothing over the GLOBAL
  // bucket domain making every log finite (the standard PSI zero-bin
  // treatment, stated in the contract). Each bin's (p−p₀)·ln(p/p₀) term
  // is quantized onto the 1e-9 grid before the cross-bin sum (q211's
  // order-free determinism; p and p₀ are single divisions of exact ints,
  // the ln a libm call both engines agree on far beyond the quantum);
  // PSI per week is then one exact integer sum scaled once, rounded once.
  val q213: QueryDef = QueryDef.sql(
    "q213_psi_drift",
    """WITH e AS (
      |  SELECT epoch_us(ts) // 604800000000 AS wk,
      |    CAST(round(value * 100) AS BIGINT) // 500 AS b
      |  FROM events),
      |h AS (SELECT wk, b, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2),
      |wktot AS (SELECT wk, CAST(sum(c) AS BIGINT) AS nw FROM h GROUP BY wk),
      |dom AS (SELECT DISTINCT b FROM h),
      |nb AS (SELECT CAST(count(*) AS BIGINT) AS bcnt FROM dom),
      |base AS (SELECT min(wk) AS wk0 FROM h),
      |grid AS (SELECT w.wk, w.nw, d.b FROM wktot w CROSS JOIN dom d),
      |p AS (
      |  SELECT g.wk, g.b,
      |    CAST(coalesce(h.c, 0) + 1 AS DOUBLE)
      |      / CAST(g.nw + (SELECT bcnt FROM nb) AS DOUBLE) AS pr
      |  FROM grid g LEFT JOIN h ON h.wk = g.wk AND h.b = g.b),
      |pj AS (
      |  SELECT p.wk, p.b, p.pr, p0.pr AS pr0
      |  FROM p JOIN p p0 ON p0.b = p.b AND p0.wk = (SELECT wk0 FROM base)),
      |terms AS (
      |  SELECT wk,
      |    CAST(round(1000000000.0 * (pr - pr0) * ln(pr / pr0)) AS BIGINT) AS t9
      |  FROM pj)
      |SELECT t.wk, w.nw AS n_events,
      |  round(CAST(sum(t.t9) AS DOUBLE) / 1000000000.0, 6) AS psi
      |FROM terms t JOIN wktot w ON w.wk = t.wk
      |GROUP BY t.wk, w.nw
      |ORDER BY t.wk""".stripMargin) { (s, d) =>
    // Spark's `div` truncates toward zero while DuckDB's `//` floors —
    // they agree ONLY because both operands are nonnegative here (ts_us
    // is a positive epoch, events.value ≥ 0 in this corpus; q168 leans
    // on the same precondition). A signed metric would need floor() on
    // both sides.
    val e = Tables.events(s, d).select(
      expr("ts_us div 604800000000").as("wk"),
      expr("cast(round(value * 100) as bigint) div 500").as("b"))
    // ONE corpus shuffle total: the bounded (week × 500-cent-bucket)
    // histogram localCheckpoints (eager) so the grid/smoothing/term
    // algebra below — wktot, dom, the left join, the baseline week —
    // branches off one materialized table instead of re-aggregating the
    // events corpus per branch. r13: was a driver take + LocalRelation,
    // which embedded the table in every downstream task binary (q221's
    // fix, same rationale).
    val h = e.groupBy("wk", "b").agg(count(lit(1)).as("c")).localCheckpoint()
    val wktot = h.groupBy("wk").agg(sum("c").as("nw"))
    val dom = h.select("b").distinct()
    // bounded scalars read off the LOCAL histogram, not corpus scans
    val bcnt = dom.count()
    val wk0 = h.agg(min("wk")).head().getLong(0)
    val grid = wktot.crossJoin(broadcast(dom))
    val p = grid.join(h, Seq("wk", "b"), "left")
      .select(col("wk"), col("b"),
        ((coalesce(col("c"), lit(0L)) + 1).cast("double")
          / (col("nw") + lit(bcnt)).cast("double")).as("pr"))
    val p0 = p.filter(col("wk") === wk0)
      .select(col("b"), col("pr").as("pr0"))
    val terms = p.join(broadcast(p0), Seq("b"))
      .select(col("wk"),
        round(lit(1000000000.0) * (col("pr") - col("pr0"))
          * log(col("pr") / col("pr0"))).cast("bigint").as("t9"))
    terms.groupBy("wk").agg(sum("t9").as("s9"))
      .join(wktot, Seq("wk"))
      .select(col("wk"), col("nw").as("n_events"),
        round(col("s9").cast("double") / 1000000000.0, 6).as("psi"))
      .orderBy("wk")
  }

  // q216 — Mann–Whitney U test of order value, finished ('F') vs open
  // orders (the NONPARAMETRIC two-sample test the hypothesis family
  // still lacked: q211's ANOVA assumes the group means summarize the
  // distributions — heavy tails break it; U compares RANKS, the
  // distribution-free companion to q184's KS with an actual z-score).
  // The q209 rank discipline verbatim: the corpus collapses ONCE to the
  // bounded 1000-cent-bucket histogram (contract stated at bucket
  // granularity), twice-mid-ranks r2 = 2·cum_below + t + 1 keep ties
  // exact in integers, 2·R_A = Σ ca·r2 and the tie-correction Σ(t³−t)
  // accumulate DECIMAL(38,0)/HUGEINT (2n² and n³ terms pass int64 by
  // sf100), and U and z are single identical-operand-order double
  // expressions off exact integers — z rounded once; U is an exact
  // half-integer while 2·R_A < 2^53 (ULP-level, still engine-identical,
  // beyond that).
  // Shuffles: one corpus aggregate; the rank window runs on O(buckets).
  val q216: QueryDef = QueryDef.sql(
    "q216_mann_whitney",
    """WITH o AS (
      |  SELECT (o_orderstatus = 'F') AS ga,
      |    CAST(round(o_totalprice * 100) AS BIGINT) // 1000 AS pb
      |  FROM orders),
      |h AS (
      |  SELECT pb,
      |    CAST(count(CASE WHEN ga THEN 1 END) AS BIGINT) AS ca,
      |    CAST(count(CASE WHEN NOT ga THEN 1 END) AS BIGINT) AS cb
      |  FROM o GROUP BY pb),
      |r AS (
      |  SELECT pb, ca, cb, ca + cb AS t,
      |    2 * coalesce(sum(ca + cb) OVER (ORDER BY pb
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + (ca + cb) + 1 AS r2
      |  FROM h),
      |t AS (
      |  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
      |    CAST(sum(CAST(ca AS HUGEINT) * r2) AS HUGEINT) AS ra2,
      |    CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS st
      |  FROM r)
      |SELECT na AS n_a, nb AS n_b,
      |  (CAST(ra2 AS DOUBLE) - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1)) / 2.0 AS u_a,
      |  round(((CAST(ra2 AS DOUBLE) - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1))
      |      - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
      |    / (2.0 * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
      |      * ((CAST(na + nb AS DOUBLE) + 1) - CAST(st AS DOUBLE)
      |        / (CAST(na + nb AS DOUBLE) * (CAST(na + nb AS DOUBLE) - 1))))), 6)
      |    AS z_score
      |FROM t""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select(
      (col("o_orderstatus") === "F").as("ga"),
      expr("cast(round(o_totalprice * 100) as bigint) div 1000").as("pb"))
    val h = o.groupBy("pb").agg(
      sum(when(col("ga"), 1L).otherwise(0L)).as("ca"),
      sum(when(!col("ga"), 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy("pb").rowsBetween(Window.unboundedPreceding, -1)
    val r = h.withColumn("t", col("ca") + col("cb"))
      .withColumn("r2",
        lit(2) * coalesce(sum(col("ca") + col("cb")).over(w), lit(0L))
          + col("t") + 1)
    val t = r.agg(
      sum("ca").as("na"), sum("cb").as("nb"),
      sum(expr("cast(ca as decimal(19,0)) * r2")).as("ra2"),
      sum(expr("cast(t as decimal(19,0)) * t * t - t")).as("st"))
    def dbl(c: String) = col(c).cast("double")
    val u2 = dbl("ra2") - dbl("na") * (dbl("na") + 1)
    val nn = dbl("na") + dbl("nb")
    t.select(col("na").as("n_a"), col("nb").as("n_b"),
      (u2 / 2.0).as("u_a"),
      round((u2 - dbl("na") * dbl("nb"))
        / (lit(2.0) * sqrt(dbl("na") * dbl("nb") / 12.0
          * ((nn + 1) - dbl("st") / (nn * (nn - 1))))), 6).as("z_score"))
  }

  // q218 — Theil–Sen robust trend of hourly event volume per type (the
  // monitoring family's missing robust SLOPE: q190 finds level SHIFTS,
  // q191 removes seasonality, q192 backtests a forecast — none says
  // "traffic is drifting at X/hour" in a way one outage spike can't
  // fake; the OLS slope can, so both ship and their disagreement is the
  // finding, q209's Spearman-vs-Pearson discipline). TS slope = exact
  // MEDIAN of all pairwise slopes (n_j−n_i)/(x_j−x_i) over OBSERVED
  // hours. Scale shape: ONE corpus aggregate to the bounded
  // (type × hour) table; the pair self-join and its rank window run on
  // O(hours²) rows — bounded by the TIME DOMAIN, corpus-independent
  // (the q205/q190 bounded-table discipline; 10× data = same hours,
  // bigger counts). Determinism: each pairwise slope is a single IEEE
  // division of exact ints (bit-identical both engines); the median
  // picks positions (cnt+1) div 2 and cnt div 2 + 1 of the slope-sorted
  // order — tie permutations can't change the VALUES at fixed sorted
  // positions — and averages ≤2 identical doubles; hours rebase to the
  // global min (one broadcast scalar off the bounded table) so OLS
  // moments stay small; OLS sums are exact wide integers, both slopes
  // single identical-operand-order expressions rounded once.
  val q218: QueryDef = QueryDef.sql(
    "q218_theil_sen_trend",
    """WITH h AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hi,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |h0 AS (SELECT min(hi) AS h0 FROM h),
      |hb AS (SELECT event_type, hi - (SELECT h0 FROM h0) AS x, n FROM h),
      |pairs AS (
      |  SELECT a.event_type,
      |    CAST(b.n - a.n AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
      |  FROM hb a JOIN hb b
      |    ON a.event_type = b.event_type AND a.x < b.x),
      |r AS (
      |  SELECT event_type, slope,
      |    row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS cnt
      |  FROM pairs),
      |med AS (
      |  SELECT event_type, CAST(max(cnt) AS BIGINT) AS n_pairs,
      |    sum(slope) / count(*) AS ts_raw
      |  FROM r WHERE rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1
      |  GROUP BY event_type),
      |ols AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS m,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(n) AS BIGINT) AS sy,
      |    CAST(sum(CAST(x AS HUGEINT) * n) AS HUGEINT) AS sxy,
      |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      |  FROM hb GROUP BY event_type)
      |SELECT o.event_type, o.m AS n_hours, m.n_pairs,
      |  round(m.ts_raw, 6) AS ts_slope,
      |  round((CAST(o.m AS DOUBLE) * CAST(o.sxy AS DOUBLE)
      |      - CAST(o.sx AS DOUBLE) * CAST(o.sy AS DOUBLE))
      |    / (CAST(o.m AS DOUBLE) * CAST(o.sxx AS DOUBLE)
      |      - CAST(o.sx AS DOUBLE) * CAST(o.sx AS DOUBLE)), 6) AS ols_slope
      |FROM ols o JOIN med m ON m.event_type = o.event_type
      |ORDER BY o.event_type""".stripMargin) { (s, d) =>
    val h = Tables.events(s, d)
      .select(col("event_type"), expr("ts_us div 3600000000").as("hi"))
      .groupBy("event_type", "hi").agg(count(lit(1)).as("n"))
    val h0 = h.agg(min("hi").as("h0"))
    val hb = h.crossJoin(broadcast(h0))
      .select(col("event_type"), (col("hi") - col("h0")).as("x"), col("n"))
    // the x-diff divisor is null-guarded even though the join residual
    // already excludes x_a = x_b: the r13 histogram tail fuses this
    // projection into the join+partial-agg codegen stage, where ANSI
    // evaluates the group key before the residual culls equal-x matches
    // — a null divisor yields a null slope on rows that never survive,
    // instead of DIVIDE_BY_ZERO on rows that never existed
    val pairs = hb.as("a").join(hb.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.x") < col("b.x"))
      .select(col("a.event_type").as("event_type"),
        ((col("b.n") - col("a.n")).cast("double")
          / when(col("b.x") =!= col("a.x"), col("b.x") - col("a.x"))
            .cast("double")).as("slope"))
    // r13: the slope median used to be a row_number window over the FULL
    // O(hours²)-per-type pair stream — ~29M rows sorted inside ≤
    // |event_type| partitions, the worst single-key skew in the catalog
    // (guide §2.5). Slopes are ratios of small integer diffs, so the
    // stream collapses ~60× into a (type, slope) histogram with map-side
    // partials, and the two middle ranks come from the shared two-level
    // order-stat selection (bucket prefix sums + a boundary-bucket rank
    // window — exactGroupOrderStats) instead of a per-type global sort.
    // Exact-value equivalence: for p = 0.5 the selected qlo/qhi ARE the
    // ranks (cnt+1)÷2 and cnt÷2+1 the window form kept, and
    // (qlo + qhi)/2 reproduces sum(slope)/count over those two rows
    // IEEE-exactly (odd n: one rank, qlo passes through unaveraged).
    val hist = pairs.groupBy(col("event_type"), col("slope"))
      .agg(count(lit(1)).as("cnt"))
    val med = exactGroupOrderStats(hist, Seq("event_type"), "slope",
        Seq(0.5 -> "m"), bucketWidth = 0.0078125)
      .select(col("event_type"), col("n").as("n_pairs"),
        when(floor(col("qr")) === ceil(col("qr")), col("qlo"))
          .otherwise((col("qlo") + col("qhi")) / 2.0).as("ts_raw"))
    val ols = hb.groupBy("event_type").agg(
      count(lit(1)).as("m"),
      sum("x").as("sx"), sum("n").as("sy"),
      sum(expr("cast(x as decimal(19,0)) * n")).as("sxy"),
      sum(expr("cast(x as decimal(19,0)) * x")).as("sxx"))
    def tsd(c: String) = col(c).cast("double")
    ols.join(med, "event_type")
      .select(col("event_type"), col("m").as("n_hours"), col("n_pairs"),
        round(col("ts_raw"), 6).as("ts_slope"),
        round((tsd("m") * tsd("sxy") - tsd("sx") * tsd("sy"))
          / (tsd("m") * tsd("sxx") - tsd("sx") * tsd("sx")), 6).as("ols_slope"))
      .orderBy("event_type")
  }

  // q220 — Kruskal–Wallis H across the five order priorities (the
  // k-SAMPLE nonparametric test closing the hypothesis-test lattice:
  // q211's ANOVA is k-sample but assumes means summarize, q216's U is
  // rank-based but two-sample — KW is "does ANY priority's value
  // distribution differ" with no distributional assumption, the test
  // run before trusting a segmentation that heavy tails could fake).
  // The q209/q216 rank discipline verbatim: the corpus collapses ONCE
  // to the bounded 1000-cent-bucket histogram (contract stated at
  // bucket granularity), twice-mid-ranks r2 = 2·cum_below + t + 1 keep
  // ties exact in integers, per-group rank sums 2·R_g = Σ c·r2 and the
  // tie term Σ(t³−t) accumulate DECIMAL(38,0)/HUGEINT. The cross-group
  // Σ (2R_g)²/n_g mixes fractions, so each term is quantized to its
  // nearest integer before the sum (q211's order-free determinism —
  // ULP-level relative error, ~1e-16, since both engines round the
  // identical double); H, its tie correction, and the ε² effect size
  // are single identical-operand-order expressions rounded once.
  // Shuffles: one corpus aggregate, then ONE LINEAR CHAIN of windows on
  // the bounded (group × bucket) table — the pooled cumulative comes
  // from a RANGE frame (all buckets strictly below this pb, across
  // groups), the per-bucket total from a pb-partitioned window, and the
  // tie term rides exactly one row per bucket (row_number flag), so the
  // histogram is never reused across branches (no driver localization,
  // no re-aggregation; the global-ordered window runs on domain-bounded
  // rows — the documented exception). Spec replays densely via BigInt
  // and pins H below the 6σ chi²(4) null band on the generator's
  // independent columns.
  val q220: QueryDef = QueryDef.sql(
    "q220_kruskal_wallis",
    """WITH o AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(round(o_totalprice * 100) AS BIGINT) // 1000 AS pb
      |  FROM orders),
      |h AS (SELECT g, pb, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY 1, 2),
      |r AS (
      |  SELECT g, pb, c,
      |    sum(c) OVER (PARTITION BY pb) AS t,
      |    coalesce(sum(c) OVER (ORDER BY pb
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
      |    row_number() OVER (PARTITION BY pb ORDER BY g) AS rnp
      |  FROM h),
      |gr AS (
      |  SELECT g, CAST(sum(c) AS BIGINT) AS ng,
      |    CAST(sum(CAST(c AS HUGEINT) * (2 * cumb + t + 1)) AS HUGEINT) AS r2g,
      |    CAST(sum(CASE WHEN rnp = 1
      |      THEN CAST(t AS HUGEINT) * t * t - t ELSE 0 END) AS HUGEINT) AS stp
      |  FROM r GROUP BY g),
      |s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
      |    CAST(sum(stp) AS HUGEINT) AS st,
      |    CAST(sum(CAST(round(CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE)
      |      / CAST(ng AS DOUBLE)) AS HUGEINT)) AS HUGEINT) AS s4
      |  FROM gr)
      |SELECT s.n, s.k AS k_groups,
      |  round(3.0 * CAST(s.s4 AS DOUBLE)
      |      / (CAST(s.n AS DOUBLE) * (CAST(s.n AS DOUBLE) + 1))
      |    - 3.0 * (CAST(s.n AS DOUBLE) + 1), 6) AS h,
      |  round((3.0 * CAST(s.s4 AS DOUBLE)
      |      / (CAST(s.n AS DOUBLE) * (CAST(s.n AS DOUBLE) + 1))
      |    - 3.0 * (CAST(s.n AS DOUBLE) + 1))
      |    / (1.0 - CAST(s.st AS DOUBLE)
      |      / (CAST(s.n AS DOUBLE) * CAST(s.n AS DOUBLE) * CAST(s.n AS DOUBLE)
      |        - CAST(s.n AS DOUBLE))), 6) AS h_tie_corrected,
      |  round(((3.0 * CAST(s.s4 AS DOUBLE)
      |      / (CAST(s.n AS DOUBLE) * (CAST(s.n AS DOUBLE) + 1))
      |    - 3.0 * (CAST(s.n AS DOUBLE) + 1))
      |    / (1.0 - CAST(s.st AS DOUBLE)
      |      / (CAST(s.n AS DOUBLE) * CAST(s.n AS DOUBLE) * CAST(s.n AS DOUBLE)
      |        - CAST(s.n AS DOUBLE)))
      |    - CAST(s.k AS DOUBLE) + 1)
      |    / (CAST(s.n AS DOUBLE) - CAST(s.k AS DOUBLE)), 6) AS epsilon_sq
      |FROM s""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select(
      col("o_orderpriority").as("g"),
      expr("cast(round(o_totalprice * 100) as bigint) div 1000").as("pb"))
    val h = o.groupBy("g", "pb").agg(count(lit(1)).as("c"))
    val r = h
      .withColumn("t", sum("c").over(Window.partitionBy("pb")))
      .withColumn("cumb", coalesce(sum("c").over(
        Window.orderBy("pb").rangeBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("rnp", row_number().over(
        Window.partitionBy("pb").orderBy("g")))
    val gr = r.groupBy("g").agg(
      sum("c").as("ng"),
      sum(expr("cast(c as decimal(19,0)) * (2 * cumb + t + 1)")).as("r2g"),
      sum(when(col("rnp") === 1,
        expr("cast(t as decimal(19,0)) * t * t - t"))
        .otherwise(expr("cast(0 as decimal(19,0))"))).as("stp"))
    val sAgg = gr.agg(
      count(lit(1)).as("k"), sum("ng").as("n"), sum("stp").as("st"),
      sum(round(col("r2g").cast("double") * col("r2g").cast("double")
        / col("ng").cast("double")).cast("decimal(38,0)")).as("s4"))
    def dbl(c: String) = col(c).cast("double")
    val hExpr = lit(3.0) * dbl("s4") / (dbl("n") * (dbl("n") + 1)) -
      lit(3.0) * (dbl("n") + 1)
    val tieC = lit(1.0) - dbl("st") / (dbl("n") * dbl("n") * dbl("n") - dbl("n"))
    sAgg.select(col("n"), col("k").as("k_groups"),
      round(hExpr, 6).as("h"),
      round(hExpr / tieC, 6).as("h_tie_corrected"),
      round((hExpr / tieC - dbl("k") + 1) / (dbl("n") - dbl("k")), 6)
        .as("epsilon_sq"))
  }

  // q221 — Kendall tau-b rank correlation between line quantity and
  // price (the THIRD association coefficient next to q209's
  // Spearman/Pearson pair: tau is a direct probability statement —
  // P(concordant) − P(discordant) — with better small-disagreement
  // robustness, and its O(n²) pair semantics are exactly the thing a
  // naive engine cannot run at 100 TB). Scale shape: the corpus
  // collapses ONCE to the bounded (quantity × 10000-cent-bucket) joint
  // histogram (contract at that granularity — the coarser axis keeps
  // the 50×~1050 grid cheap to localize; 1000-cent made the embedded
  // local relation ~300k rows and the plan paid seconds of
  // re-serialization per branch, measured), the FULL grid forms by
  // crossing the two bounded margins, and the pair counting becomes a
  // 2-D dominance prefix-sum — concordant = Σ c·LT with LT the
  // strictly-below-in-both count built from two bounded windows
  // (prefix along pb within q, then prefix along q within pb), the
  // same for discordant with the reversed second coordinate. Every
  // count is an exact integer (DECIMAL(38,0)/HUGEINT — C,D reach n²/2
  // ≈ 2e17 at sf10); tau-b's denominator √((n0−tq)(n0−tp)) and the
  // final ratio are one identical-operand-order double expression
  // rounded once. Shuffles: one corpus aggregate; the grid and both
  // windows run on O(|q-domain| × |pb-domain|) rows, corpus-free.
  // Spec replays C/D densely from raw rows via BigInt.
  val q221: QueryDef = QueryDef.sql(
    "q221_kendall_tau",
    """WITH l AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS q,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) // 10000 AS pb
      |  FROM lineitem),
      |h AS (SELECT q, pb, CAST(count(*) AS BIGINT) AS c FROM l GROUP BY 1, 2),
      |qd AS (SELECT DISTINCT q FROM h),
      |pd AS (SELECT DISTINCT pb FROM h),
      |grid AS (
      |  SELECT qd.q, pd.pb, CAST(coalesce(h.c, 0) AS BIGINT) AS c
      |  FROM qd CROSS JOIN pd
      |  LEFT JOIN h ON h.q = qd.q AND h.pb = pd.pb),
      |pp AS (
      |  SELECT q, pb, c,
      |    coalesce(sum(c) OVER (PARTITION BY q ORDER BY pb
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below_pb,
      |    sum(c) OVER (PARTITION BY q) AS rowtot
      |  FROM grid),
      |lt AS (
      |  SELECT q, pb, c,
      |    coalesce(sum(below_pb) OVER (PARTITION BY pb ORDER BY q
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ltc,
      |    coalesce(sum(rowtot - below_pb - c) OVER (PARTITION BY pb ORDER BY q
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gtc
      |  FROM pp),
      |agg AS (
      |  SELECT CAST(sum(CAST(c AS HUGEINT) * ltc) AS HUGEINT) AS conc,
      |    CAST(sum(CAST(c AS HUGEINT) * gtc) AS HUGEINT) AS disc
      |  FROM lt),
      |mq AS (
      |  SELECT CAST(sum(CAST(cq AS HUGEINT) * (cq - 1)) AS HUGEINT) AS tq2
      |  FROM (SELECT CAST(sum(c) AS BIGINT) AS cq FROM h GROUP BY q)),
      |mp AS (
      |  SELECT CAST(sum(CAST(cp AS HUGEINT) * (cp - 1)) AS HUGEINT) AS tp2
      |  FROM (SELECT CAST(sum(c) AS BIGINT) AS cp FROM h GROUP BY pb)),
      |nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h)
      |SELECT nt.n, CAST(agg.conc AS DOUBLE) AS conc, CAST(agg.disc AS DOUBLE) AS disc,
      |  round((CAST(agg.conc AS DOUBLE) - CAST(agg.disc AS DOUBLE))
      |    / sqrt((CAST(nt.n AS DOUBLE) * (CAST(nt.n AS DOUBLE) - 1) / 2.0
      |        - CAST(mq.tq2 AS DOUBLE) / 2.0)
      |      * (CAST(nt.n AS DOUBLE) * (CAST(nt.n AS DOUBLE) - 1) / 2.0
      |        - CAST(mp.tp2 AS DOUBLE) / 2.0)), 6) AS tau_b
      |FROM agg, mq, mp, nt""".stripMargin) { (s, d) =>
    val l = Tables.lineitem(s, d).select(
      col("l_quantity").cast("bigint").as("q"),
      expr("cast(round(l_extendedprice * 100) as bigint) div 10000").as("pb"))
    // ONE corpus shuffle total: the bounded joint histogram
    // localCheckpoints (eager — one materializing job) so the grid, both
    // margins, and the total all branch off the SAME materialized table
    // instead of re-aggregating the corpus per branch. r13: this used to
    // take() the ~50k-row histogram to the driver and re-embed it as a
    // LocalRelation — which ships the whole table inside EVERY downstream
    // stage's task binary ("Broadcasting large task binary" warnings, and
    // the grid/window stages burned more time deserializing closures than
    // computing). Checkpointed RDD blocks stay distributed; downstream
    // plans reference them by id. The output plan still carries zero
    // FileScans (the r11-stats plan pin).
    val h = l.groupBy("q", "pb").agg(count(lit(1)).as("c")).localCheckpoint()
    val qd = h.select("q").distinct()
    val pd = h.select("pb").distinct()
    val grid = qd.crossJoin(broadcast(pd))
      .join(h, Seq("q", "pb"), "left")
      .select(col("q"), col("pb"), coalesce(col("c"), lit(0L)).as("c"))
    val wpb = Window.partitionBy("q").orderBy("pb")
      .rowsBetween(Window.unboundedPreceding, -1)
    val pp = grid
      .withColumn("below_pb", coalesce(sum("c").over(wpb), lit(0L)))
      .withColumn("rowtot", sum("c").over(Window.partitionBy("q")))
    val wq = Window.partitionBy("pb").orderBy("q")
      .rowsBetween(Window.unboundedPreceding, -1)
    val lt = pp
      .withColumn("ltc", coalesce(sum("below_pb").over(wq), lit(0L)))
      .withColumn("gtc",
        coalesce(sum(col("rowtot") - col("below_pb") - col("c")).over(wq),
          lit(0L)))
    val agg = lt.agg(
      sum(expr("cast(c as decimal(19,0)) * ltc")).as("conc"),
      sum(expr("cast(c as decimal(19,0)) * gtc")).as("disc"))
    val mq = h.groupBy("q").agg(sum("c").as("cq"))
      .agg(sum(expr("cast(cq as decimal(19,0)) * (cq - 1)")).as("tq2"))
    val mp = h.groupBy("pb").agg(sum("c").as("cp"))
      .agg(sum(expr("cast(cp as decimal(19,0)) * (cp - 1)")).as("tp2"))
    val nt = h.agg(sum("c").as("n"))
    def dbl(c: String) = col(c).cast("double")
    val n0 = dbl("n") * (dbl("n") - 1) / 2.0
    agg.crossJoin(mq).crossJoin(mp).crossJoin(nt)
      .select(col("n"), col("conc").cast("double").as("conc"),
        col("disc").cast("double").as("disc"),
        round((dbl("conc") - dbl("disc"))
          / sqrt((n0 - dbl("tq2") / 2.0) * (n0 - dbl("tp2") / 2.0)), 6)
          .as("tau_b"))
  }

  // q222 — Benjamini–Hochberg FDR over the per-event-type Mann–Whitney
  // family (the MULTIPLE-TESTING layer the hypothesis family needed:
  // q184/q211/q216 each run ONE test, but a monitoring deck runs one
  // per metric — at α=0.05 a 20-test deck fires a false alarm most
  // weeks, and BH step-up is the standard correction that still
  // controls the false-DISCOVERY rate). Per type, value ranks compare
  // even vs odd epoch days (a true A/A pair — the q167/q205 null
  // convention: the corrected family should stay quiet) under the
  // q216 rank discipline on the bounded per-type 500-cent histogram.
  // The step-up decision is made ENTIRELY in exact arithmetic: the m=5
  // critical values Φ⁻¹(1 − i·α/(2m)) are PRECOMPUTED LITERALS on the
  // 1e-9 grid (no erf in either engine), z quantizes onto the same
  // grid, ranks order by that exact integer (type tiebreak), and
  // reject = rank ≤ max{i : |z9|_(i) ≥ crit9_i} — every comparison
  // integer-vs-literal, so both engines agree bit-for-bit even AT the
  // boundary. Shuffles: one corpus aggregate; rank windows on
  // O(types × buckets); the BH scan on 5 rows. Spec replays the
  // step-up densely and proves the alert polarity on an injected shift.
  val q222: QueryDef = QueryDef.sql(
    "q222_bh_fdr",
    """WITH e AS (
      |  SELECT event_type,
      |    (epoch_us(ts) // 86400000000) % 2 = 0 AS ga,
      |    CAST(round(value * 100) AS BIGINT) // 500 AS b
      |  FROM events),
      |h AS (
      |  SELECT event_type, b,
      |    CAST(count(CASE WHEN ga THEN 1 END) AS BIGINT) AS ca,
      |    CAST(count(CASE WHEN NOT ga THEN 1 END) AS BIGINT) AS cb
      |  FROM e GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, ca, cb, ca + cb AS t,
      |    2 * coalesce(sum(ca + cb) OVER (PARTITION BY event_type ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + (ca + cb) + 1 AS r2
      |  FROM h),
      |t AS (
      |  SELECT event_type,
      |    CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
      |    CAST(sum(CAST(ca AS HUGEINT) * r2) AS HUGEINT) AS ra2,
      |    CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS st
      |  FROM r GROUP BY event_type),
      |z AS (
      |  SELECT event_type, na, nb,
      |    CAST(round(1000000000.0 *
      |      ((CAST(ra2 AS DOUBLE) - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1))
      |          - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
      |      / (2.0 * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
      |        * ((CAST(na + nb AS DOUBLE) + 1) - CAST(st AS DOUBLE)
      |          / (CAST(na + nb AS DOUBLE) * (CAST(na + nb AS DOUBLE) - 1)))))
      |      ) AS BIGINT) AS z9
      |  FROM t),
      |rk AS (
      |  SELECT event_type, na, nb, z9,
      |    row_number() OVER (ORDER BY abs(z9) DESC, event_type) AS rn
      |  FROM z),
      |crit(rn, crit9) AS (VALUES
      |  (1, 2575829304), (2, 2326347874), (3, 2170090378),
      |  (4, 2053748911), (5, 1959963985)),
      |flag AS (
      |  SELECT rk.*, crit.crit9, abs(rk.z9) >= crit.crit9 AS hit
      |  FROM rk JOIN crit ON crit.rn = rk.rn),
      |fk AS (
      |  SELECT flag.*,
      |    coalesce(max(CASE WHEN hit THEN rn END) OVER (), 0) AS k
      |  FROM flag)
      |SELECT event_type, na AS n_even, nb AS n_odd,
      |  round(CAST(z9 AS DOUBLE) / 1000000000.0, 6) AS z_score,
      |  rn AS bh_rank,
      |  round(CAST(crit9 AS DOUBLE) / 1000000000.0, 6) AS z_crit,
      |  rn <= k AS rejected
      |FROM fk ORDER BY rn""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d).select(
      col("event_type"),
      (expr("(ts_us div 86400000000) % 2") === 0).as("ga"),
      expr("cast(round(value * 100) as bigint) div 500").as("b"))
    val h = e.groupBy("event_type", "b").agg(
      sum(when(col("ga"), 1L).otherwise(0L)).as("ca"),
      sum(when(!col("ga"), 1L).otherwise(0L)).as("cb"))
    val w = Window.partitionBy("event_type").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = h.withColumn("t", col("ca") + col("cb"))
      .withColumn("r2",
        lit(2) * coalesce(sum(col("ca") + col("cb")).over(w), lit(0L))
          + col("t") + 1)
    val t = r.groupBy("event_type").agg(
      sum("ca").as("na"), sum("cb").as("nb"),
      sum(expr("cast(ca as decimal(19,0)) * r2")).as("ra2"),
      sum(expr("cast(t as decimal(19,0)) * t * t - t")).as("st"))
    def dbl(c: String) = col(c).cast("double")
    val nn = dbl("na") + dbl("nb")
    val zExpr = ((dbl("ra2") - dbl("na") * (dbl("na") + 1))
      - dbl("na") * dbl("nb")) /
      (lit(2.0) * sqrt(dbl("na") * dbl("nb") / 12.0
        * ((nn + 1) - dbl("st") / (nn * (nn - 1)))))
    val z = t.select(col("event_type"), col("na"), col("nb"),
      round(lit(1000000000.0) * zExpr).cast("bigint").as("z9"))
    val rk = z.withColumn("rn",
      row_number().over(Window.orderBy(abs(col("z9")).desc, col("event_type"))))
    val crit = s.createDataFrame(Seq(
      (1, 2575829304L), (2, 2326347874L), (3, 2170090378L),
      (4, 2053748911L), (5, 1959963985L))).toDF("rn", "crit9")
    // the step-up scan rides a window over the 5-row family instead of a
    // self-join — a kmax aggregate joined back would re-derive the whole
    // corpus chain a second time (plan-guarded single events scan)
    val flag = rk.join(broadcast(crit), Seq("rn"))
      .withColumn("hit", abs(col("z9")) >= col("crit9"))
      .withColumn("k", coalesce(
        max(when(col("hit"), col("rn"))).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)), lit(0)))
    flag
      .select(col("event_type"), col("na").as("n_even"), col("nb").as("n_odd"),
        round(col("z9").cast("double") / 1000000000.0, 6).as("z_score"),
        col("rn").cast("bigint").as("bh_rank"),
        round(col("crit9").cast("double") / 1000000000.0, 6).as("z_crit"),
        (col("rn") <= col("k")).as("rejected"))
      .orderBy("bh_rank")
  }

  // q225 — winsorized and trimmed robust means per return flag (the
  // robust ESTIMATOR companion to q195's robust DETECTOR: MAD says
  // which rows are outliers, the winsorized/trimmed mean is the
  // headline number reported once tails are distrusted — the standard
  // pair of tail treatments, clamp vs drop, shipped side by side with
  // the raw mean so the gap IS the tail's leverage). The q171/q185
  // histogram discipline: the corpus collapses ONCE to the bounded
  // (flag × 1000-cent-bucket) table carrying per-bucket exact cents
  // sums, the p05/p95 cutoff buckets come from the integer-ceil rank
  // rule (20·cum ≥ n and 20·cum ≥ 19·n — pure integer decisions) over
  // the per-flag cumulative window on O(buckets) rows, and each mean
  // is ONE division of exact int64: interior buckets contribute their
  // exact cents sums, clamped tails contribute count × the boundary
  // bucket's start (low) / end (high) cents — the contract stated at
  // bucket granularity and replayed identically by the oracle.
  // Shuffles: one corpus aggregate. Spec replays cutoffs and all three
  // means densely and pins winsor/trim between them.
  val q225: QueryDef = QueryDef.sql(
    "q225_winsorized_mean",
    """WITH l AS (
      |  SELECT l_returnflag AS g,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) // 1000 AS pb
      |  FROM lineitem),
      |h AS (
      |  SELECT g, pb, CAST(count(*) AS BIGINT) AS c,
      |    CAST(sum(cents) AS BIGINT) AS sc
      |  FROM l GROUP BY 1, 2),
      |r AS (
      |  SELECT g, pb, c, sc,
      |    sum(c) OVER (PARTITION BY g ORDER BY pb
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(c) OVER (PARTITION BY g) AS n
      |  FROM h),
      |r2 AS (
      |  SELECT r.*,
      |    min(CASE WHEN 20 * cum >= n THEN pb END)
      |      OVER (PARTITION BY g) AS lo_pb,
      |    min(CASE WHEN 20 * cum >= 19 * n THEN pb END)
      |      OVER (PARTITION BY g) AS hi_pb
      |  FROM r),
      |parts AS (
      |  SELECT g, CAST(n AS BIGINT) AS n, lo_pb, hi_pb,
      |    CAST(sum(CASE WHEN pb >= lo_pb AND pb <= hi_pb
      |      THEN sc ELSE 0 END) AS BIGINT) AS sc_in,
      |    CAST(sum(CASE WHEN pb >= lo_pb AND pb <= hi_pb
      |      THEN c ELSE 0 END) AS BIGINT) AS c_in,
      |    CAST(sum(CASE WHEN pb < lo_pb THEN c ELSE 0 END) AS BIGINT)
      |      AS c_lo,
      |    CAST(sum(CASE WHEN pb > hi_pb THEN c ELSE 0 END) AS BIGINT)
      |      AS c_hi,
      |    CAST(sum(sc) AS BIGINT) AS sc_all
      |  FROM r2
      |  GROUP BY g, n, lo_pb, hi_pb)
      |SELECT g, CAST(n AS BIGINT) AS n,
      |  lo_pb * 1000 AS lo_cut_cents, hi_pb * 1000 + 999 AS hi_cut_cents,
      |  round(CAST(sc_all AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS mean_raw,
      |  round(CAST(sc_in + c_lo * (lo_pb * 1000) + c_hi * (hi_pb * 1000 + 999)
      |      AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS mean_winsor,
      |  round(CAST(sc_in AS DOUBLE) / CAST(c_in AS DOUBLE) / 100.0, 6)
      |    AS mean_trimmed
      |FROM parts ORDER BY g""".stripMargin) { (s, d) =>
    val l = Tables.lineitem(s, d).select(
      col("l_returnflag").as("g"),
      expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"),
      expr("cast(round(l_extendedprice * 100) as bigint) div 1000").as("pb"))
    val h = l.groupBy("g", "pb").agg(
      count(lit(1)).as("c"), sum("cents").as("sc"))
    val wg = Window.partitionBy("g").orderBy("pb")
      .rowsBetween(Window.unboundedPreceding, 0)
    val r = h
      .withColumn("cum", sum("c").over(wg))
      .withColumn("n", sum("c").over(Window.partitionBy("g")))
    // cutoff buckets ride g-partitioned window mins on the SAME exchange
    // as the cumulative — a groupBy-and-join-back would re-derive the
    // corpus histogram a second time (plan-guarded single lineitem scan)
    val wg2 = Window.partitionBy("g")
    val r2 = r
      .withColumn("lo_pb",
        min(when(lit(20) * col("cum") >= col("n"), col("pb"))).over(wg2))
      .withColumn("hi_pb",
        min(when(lit(20) * col("cum") >= lit(19) * col("n"), col("pb")))
          .over(wg2))
    val parts = r2
      .groupBy("g", "n", "lo_pb", "hi_pb").agg(
        sum(when(col("pb") >= col("lo_pb") && col("pb") <= col("hi_pb"),
          col("sc")).otherwise(0L)).as("sc_in"),
        sum(when(col("pb") >= col("lo_pb") && col("pb") <= col("hi_pb"),
          col("c")).otherwise(0L)).as("c_in"),
        sum(when(col("pb") < col("lo_pb"), col("c")).otherwise(0L)).as("c_lo"),
        sum(when(col("pb") > col("hi_pb"), col("c")).otherwise(0L)).as("c_hi"),
        sum("sc").as("sc_all"))
    def dbl(c: Column) = c.cast("double")
    parts.select(col("g"), col("n"),
        (col("lo_pb") * 1000).as("lo_cut_cents"),
        (col("hi_pb") * 1000 + 999).as("hi_cut_cents"),
        round(dbl(col("sc_all")) / dbl(col("n")) / 100.0, 6).as("mean_raw"),
        round(dbl(col("sc_in") + col("c_lo") * (col("lo_pb") * 1000)
          + col("c_hi") * (col("hi_pb") * 1000 + 999))
          / dbl(col("n")) / 100.0, 6).as("mean_winsor"),
        round(dbl(col("sc_in")) / dbl(col("c_in")) / 100.0, 6)
          .as("mean_trimmed"))
      .orderBy("g")
  }

  // q226 — Cochran–Armitage trend test of urgent-order rate across
  // ordered price bands (the ORDERED-categorical member the hypothesis
  // family lacked: q212's chi-square treats categories as unordered and
  // burns power — when the question is "does the rate RISE with value",
  // the trend test with integer scores w_i = band index is the standard
  // answer, the dose-response staple). Ten fixed 50000-cent bands (a
  // stated contract — equal-width, not data-dependent quantiles, so the
  // banding is engine-free); ALL moments are exact integers off ONE
  // corpus aggregate to the ≤10-row band table: the numerator
  // N·Σwᵢuᵢ − U·Σwᵢnᵢ and variance pieces N·Σwᵢ²nᵢ − (Σwᵢnᵢ)² stay in
  // int64 (w ≤ 9, N ≤ 2^31 at sf100 → ≤ 9·N² ≈ 4e19… DECIMAL(38,0) to
  // be explicit), z is ONE identical-operand-order expression of those
  // integers rounded once. A/A: priority is independent of price in
  // this corpus, so the spec pins |z| < 6 and replays densely.
  val q226: QueryDef = QueryDef.sql(
    "q226_cochran_armitage",
    """WITH o AS (
      |  SELECT least(CAST(round(o_totalprice * 100) AS BIGINT) // 5000000, 9)
      |      AS w,
      |    CAST(o_orderpriority = '1-URGENT' AS BIGINT) AS y
      |  FROM orders),
      |b AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS u
      |  FROM o GROUP BY w),
      |t AS (
      |  SELECT CAST(sum(n) AS HUGEINT) AS nn, CAST(sum(u) AS HUGEINT) AS uu,
      |    CAST(sum(w * u) AS HUGEINT) AS swu,
      |    CAST(sum(w * n) AS HUGEINT) AS swn,
      |    CAST(sum(w * w * n) AS HUGEINT) AS sw2n,
      |    CAST(count(*) AS BIGINT) AS bands
      |  FROM b)
      |SELECT CAST(nn AS BIGINT) AS n, CAST(uu AS BIGINT) AS n_urgent, bands,
      |  round((CAST(nn AS DOUBLE) * CAST(swu AS DOUBLE)
      |      - CAST(uu AS DOUBLE) * CAST(swn AS DOUBLE))
      |    / sqrt(CAST(uu AS DOUBLE) * (CAST(nn AS DOUBLE) - CAST(uu AS DOUBLE))
      |      * (CAST(nn AS DOUBLE) * CAST(sw2n AS DOUBLE)
      |        - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE))
      |      / CAST(nn AS DOUBLE)), 6) AS z_trend
      |FROM t""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select(
      least(expr("cast(round(o_totalprice * 100) as bigint) div 5000000"),
        lit(9L)).as("w"),
      (col("o_orderpriority") === "1-URGENT").cast("bigint").as("y"))
    val b = o.groupBy("w").agg(count(lit(1)).as("n"), sum("y").as("u"))
    val t = b.agg(
      sum("n").cast("decimal(38,0)").as("nn"),
      sum("u").cast("decimal(38,0)").as("uu"),
      sum(expr("w * u")).cast("decimal(38,0)").as("swu"),
      sum(expr("w * n")).cast("decimal(38,0)").as("swn"),
      sum(expr("w * w * n")).cast("decimal(38,0)").as("sw2n"),
      count(lit(1)).as("bands"))
    def dbl(c: String) = col(c).cast("double")
    t.select(col("nn").cast("bigint").as("n"),
      col("uu").cast("bigint").as("n_urgent"), col("bands"),
      round((dbl("nn") * dbl("swu") - dbl("uu") * dbl("swn"))
        / sqrt(dbl("uu") * (dbl("nn") - dbl("uu"))
          * (dbl("nn") * dbl("sw2n") - dbl("swn") * dbl("swn"))
          / dbl("nn")), 6).as("z_trend"))
  }

  // q233 — pinball-loss quantile-forecast backtest (the UNCERTAINTY
  // companion q192's point-forecast skill lacks: a capacity plan needs
  // "what P90 load should we provision for?", and the pinball loss is the
  // proper scoring rule that makes a quantile forecast honest — under- and
  // over-prediction priced asymmetrically at τ and 1−τ). Forecaster:
  // per-hour-of-day empirical P50/P90 of TRAIN hourly counts by the
  // integer-ceil rank rule (picks ACTUAL counts — exact ints); split =
  // first-vs-second half of the observed day range (q142's deterministic
  // temporal convention, the midpoint a pure integer decision). Exactness:
  // counts and quantiles are integers, so 10× the pinball loss is an exact
  // int64 sum (τ=0.5 → 5·|y−q|; τ=0.9 → 9·(y−q)⁺ + (q−y)⁺) — NO doubles
  // until the final rounded means, coverage single IEEE divisions of exact
  // counts. Scale shape: ONE corpus aggregate to the bounded hours table;
  // the split boundary, per-hod cumulative ranks and the 24-row quantile
  // join all ride windows/joins on bounded tables.
  val q233: QueryDef = QueryDef.sql(
    "q233_pinball_backtest",
    """WITH h AS (
      |  SELECT epoch_us(ts) // 3600000000 AS hr, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |hh AS (SELECT hr, n, hr % 24 AS hod, hr // 24 AS day FROM h),
      |hb AS (
      |  SELECT hh.*, (min(day) OVER () + max(day) OVER () + 1) // 2 AS dmid
      |  FROM hh),
      |ct AS (
      |  SELECT hod, n, CAST(count(*) AS BIGINT) AS c
      |  FROM hb WHERE day < dmid GROUP BY hod, n),
      |cum AS (
      |  SELECT hod, n,
      |    CAST(sum(c) OVER (PARTITION BY hod ORDER BY n
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |    CAST(sum(c) OVER (PARTITION BY hod) AS BIGINT) AS nh
      |  FROM ct),
      |qs AS (
      |  SELECT hod,
      |    min(CASE WHEN 2 * cum >= nh THEN n END) AS q50,
      |    min(CASE WHEN 10 * cum >= 9 * nh THEN n END) AS q90
      |  FROM cum GROUP BY hod),
      |te AS (
      |  SELECT hb.hod, hb.n, qs.q50, qs.q90
      |  FROM hb JOIN qs ON hb.hod = qs.hod WHERE hb.day >= hb.dmid)
      |SELECT CAST(count(*) AS BIGINT) AS n_test,
      |  CAST(sum(5 * abs(n - q50)) AS BIGINT) AS pinball10_50,
      |  CAST(sum(CASE WHEN n >= q90 THEN 9 * (n - q90) ELSE q90 - n END)
      |    AS BIGINT) AS pinball10_90,
      |  round(CAST(sum(5 * abs(n - q50)) AS DOUBLE) / 10 / count(*), 6)
      |    AS mean_pinball_50,
      |  round(CAST(sum(CASE WHEN n >= q90 THEN 9 * (n - q90) ELSE q90 - n END)
      |    AS DOUBLE) / 10 / count(*), 6) AS mean_pinball_90,
      |  CAST(sum(CASE WHEN n <= q50 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
      |    AS coverage_50,
      |  CAST(sum(CASE WHEN n <= q90 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
      |    AS coverage_90
      |FROM te""".stripMargin) { (s, d) =>
    // ONE corpus shuffle: the bounded hours table localizes (q213's
    // persist→take→local-relation discipline, capped) so the train
    // histogram and test join branches below don't re-aggregate the
    // events corpus once each
    val hBig = Tables.events(s, d)
      .groupBy(expr("ts_us div 3600000000").as("hr"))
      .agg(count(lit(1)).as("n"))
      .withColumn("hod", col("hr") % 24)
      .withColumn("day", expr("hr div 24"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hRows = hBig.take(1 << 20)
    require(hRows.length < (1 << 20), "hours-table driver overflow")
    val h = s.createDataFrame(java.util.Arrays.asList(hRows: _*), hBig.schema)
    hBig.unpersist(false)
    val hb = h.withColumn("dmid",
      expr("(min(day) over (rows between unbounded preceding and " +
        "unbounded following) + max(day) over (rows between unbounded " +
        "preceding and unbounded following) + 1) div 2"))
    val ct = hb.filter(col("day") < col("dmid"))
      .groupBy("hod", "n").agg(count(lit(1)).as("c"))
    val wHod = Window.partitionBy("hod").orderBy("n")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wHodAll = Window.partitionBy("hod")
    val cum = ct
      .withColumn("cum", sum("c").over(wHod))
      .withColumn("nh", sum("c").over(wHodAll))
    val qs = cum.groupBy("hod").agg(
      min(when(lit(2) * col("cum") >= col("nh"), col("n"))).as("q50"),
      min(when(lit(10) * col("cum") >= lit(9) * col("nh"), col("n")))
        .as("q90"))
    val te = hb.filter(col("day") >= col("dmid"))
      .join(broadcast(qs), "hod")
    val p50 = sum(lit(5) * abs(col("n") - col("q50")))
    val p90 = sum(when(col("n") >= col("q90"),
      lit(9) * (col("n") - col("q90"))).otherwise(col("q90") - col("n")))
    te.agg(
      count(lit(1)).as("n_test"),
      p50.cast("bigint").as("pinball10_50"),
      p90.cast("bigint").as("pinball10_90"),
      round(p50.cast("double") / 10 / count(lit(1)), 6).as("mean_pinball_50"),
      round(p90.cast("double") / 10 / count(lit(1)), 6).as("mean_pinball_90"),
      (sum(when(col("n") <= col("q50"), 1L).otherwise(0L)).cast("double")
        / count(lit(1))).as("coverage_50"),
      (sum(when(col("n") <= col("q90"), 1L).otherwise(0L)).cast("double")
        / count(lit(1))).as("coverage_90"))
  }

  // q228 — CUPED variance-reduced experiment readout (the estimator every
  // mature A/B platform runs: the raw arm-mean difference carries the
  // full between-user variance, but regressing out a PRE-period covariate
  // x with θ = cov(x,y)/var(x) removes the share of variance x explains —
  // same point estimate in expectation, tighter CI, which is the
  // difference between a 2-week and a 6-week experiment). Unit = customer
  // (q167's hash-arm convention on the key); the pre/post split is
  // even-vs-odd epoch-day order value (deterministic, no data-dependent
  // boundary — q222's convention), a true A/A under the generator so the
  // spec pins the adjusted difference near zero. Scale shape: ONE orders
  // scan → the per-customer (x, y) cents aggregate (one shuffle, O(units)
  // rows) → a bounded 2-row arm rollup carrying Σx, Σy, Σx², Σy², Σxy in
  // DECIMAL(38,0) (x,y ≤ ~1e9 cents ⇒ xy ≤ 1e18 per unit — exact), with
  // grand totals as windows over the bounded table. θ, ρ² and the
  // adjusted means are single identical-operand-order expressions of
  // those exact integers (doubles only at the last step), rounded once —
  // deterministic across engines with no quantization needed.
  val q228: QueryDef = QueryDef.sql(
    "q228_cuped_adjustment",
    """WITH o AS (
      |  SELECT o_custkey,
      |    ((o_custkey % 1000003) * 2654435761) % 2 AS arm,
      |    (epoch_us(o_orderdate) // 86400000000) % 2 AS odd_day,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |u AS (
      |  SELECT o_custkey, arm,
      |    CAST(sum(CASE WHEN odd_day = 0 THEN cents ELSE 0 END) AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN odd_day = 1 THEN cents ELSE 0 END) AS BIGINT) AS y
      |  FROM o GROUP BY o_custkey, arm),
      |a AS (
      |  SELECT arm, CAST(count(*) AS BIGINT) AS n_u,
      |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
      |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      |  FROM u GROUP BY arm),
      |g AS (
      |  SELECT a.*,
      |    CAST(sum(n_u) OVER () AS DOUBLE) AS n,
      |    CAST(sum(sx) OVER () AS DOUBLE) AS tsx,
      |    CAST(sum(sy) OVER () AS DOUBLE) AS tsy,
      |    CAST(sum(sxx) OVER () AS DOUBLE) AS tsxx,
      |    CAST(sum(syy) OVER () AS DOUBLE) AS tsyy,
      |    CAST(sum(sxy) OVER () AS DOUBLE) AS tsxy
      |  FROM a)
      |SELECT arm, n_u,
      |  round(CAST(sy AS DOUBLE) / n_u / 100, 6) AS mean_raw,
      |  round((CAST(sy AS DOUBLE) / n_u
      |    - ((n * tsxy - tsx * tsy) / (n * tsxx - tsx * tsx))
      |      * (CAST(sx AS DOUBLE) / n_u - tsx / n)) / 100, 6) AS mean_adj,
      |  round((n * tsxy - tsx * tsy) / (n * tsxx - tsx * tsx), 6) AS theta,
      |  round((n * tsxy - tsx * tsy) * (n * tsxy - tsx * tsy)
      |    / ((n * tsxx - tsx * tsx) * (n * tsyy - tsy * tsy)), 6) AS rho2
      |FROM g ORDER BY arm""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select(
      col("o_custkey"),
      (col("o_custkey") % 1000003L * 2654435761L % 2L).as("arm"),
      (expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000") % 2L)
        .as("odd_day"),
      expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    val u = o.groupBy("o_custkey", "arm").agg(
      sum(when(col("odd_day") === 0, col("cents")).otherwise(0L)).as("x"),
      sum(when(col("odd_day") === 1, col("cents")).otherwise(0L)).as("y"))
    val a = u.groupBy("arm").agg(
      count(lit(1)).as("n_u"),
      sum("x").cast("decimal(38,0)").as("sx"),
      sum("y").cast("decimal(38,0)").as("sy"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
      sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
      sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
    // grand moments ride unbounded windows over the bounded 2-row arm
    // table — never a second corpus aggregate
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val g = a
      .withColumn("n", sum("n_u").over(wAll).cast("double"))
      .withColumn("tsx", sum("sx").over(wAll).cast("double"))
      .withColumn("tsy", sum("sy").over(wAll).cast("double"))
      .withColumn("tsxx", sum("sxx").over(wAll).cast("double"))
      .withColumn("tsyy", sum("syy").over(wAll).cast("double"))
      .withColumn("tsxy", sum("sxy").over(wAll).cast("double"))
    val covN = col("n") * col("tsxy") - col("tsx") * col("tsy")
    val varxN = col("n") * col("tsxx") - col("tsx") * col("tsx")
    val varyN = col("n") * col("tsyy") - col("tsy") * col("tsy")
    val theta = covN / varxN
    g.select(col("arm"), col("n_u"),
      round(col("sy").cast("double") / col("n_u") / 100, 6).as("mean_raw"),
      round((col("sy").cast("double") / col("n_u")
        - theta * (col("sx").cast("double") / col("n_u")
          - col("tsx") / col("n"))) / 100, 6).as("mean_adj"),
      round(theta, 6).as("theta"),
      round(covN * covN / (varxN * varyN), 6).as("rho2"))
      .orderBy("arm")
  }

  // q229 — empirical-Bayes (beta-binomial) shrinkage of per-nation urgent
  // rates (the small-cell estimator every per-segment dashboard needs:
  // a 30-order nation's raw 20% urgent rate is mostly noise, and ranking
  // segments by raw rate surfaces the THINNEST cells first; shrinking
  // toward the pooled mean with a strength fitted from the between-group
  // spread is the standard fix — James–Stein's practical form). Method of
  // moments on the bounded ≤25-row nation table: prior mean = pooled
  // rate (exact-int division), prior strength M = p̄(1−p̄)/s² − 1 with p̄
  // and s² the UNWEIGHTED group-rate mean/variance — each (p_g − p̄)²
  // term quantized onto the 1e-12 grid before the order-free cross-group
  // sum (q213's discipline), M clamped at 0 and rounded onto the 1e-6
  // grid (a stated contract: the prior is reported at that precision, so
  // shrunk rates are reproducible from the published prior); shrunk_g =
  // (u_g + M·m)/(n_g + M) one fixed-order expression rounded once. ONE
  // fact scan (customer joins on custkey — at 100 TB that shuffle join
  // is the plan; nation would broadcast but the 25-row table needs no
  // join at all: nationkey IS the group key).
  val q229: QueryDef = QueryDef.sql(
    "q229_eb_shrinkage",
    """WITH j AS (
      |  SELECT c.c_nationkey AS nation,
      |    CAST(o.o_orderpriority = '1-URGENT' AS BIGINT) AS y
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |b AS (
      |  SELECT nation, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS u
      |  FROM j GROUP BY nation),
      |w AS (
      |  SELECT b.*,
      |    CAST(sum(n) OVER () AS BIGINT) AS tn,
      |    CAST(sum(u) OVER () AS BIGINT) AS tu,
      |    CAST(count(*) OVER () AS BIGINT) AS k,
      |    CAST(sum(CAST(round(1000000000000.0 * (CAST(u AS DOUBLE) / n))
      |      AS BIGINT)) OVER () AS DOUBLE) / 1000000000000.0 AS sp
      |  FROM b),
      |v AS (
      |  SELECT w.*, sp / k AS pbar,
      |    CAST(sum(CAST(round(1000000000000.0
      |        * (CAST(u AS DOUBLE) / n - sp / k)
      |        * (CAST(u AS DOUBLE) / n - sp / k)) AS BIGINT)) OVER ()
      |      AS DOUBLE) / 1000000000000.0 AS ssq
      |  FROM w),
      |m AS (
      |  SELECT v.*,
      |    CASE WHEN ssq = 0 THEN 0.0 ELSE
      |      round(greatest(0.0, pbar * (1.0 - pbar) * (k - 1) / ssq - 1.0), 6)
      |      END AS mm
      |  FROM v)
      |SELECT nation, n, u,
      |  CAST(u AS DOUBLE) / n AS rate_raw,
      |  round((CAST(u AS DOUBLE) + mm * (CAST(tu AS DOUBLE) / tn))
      |    / (CAST(n AS DOUBLE) + mm), 6) AS rate_shrunk,
      |  round(mm, 6) AS prior_strength,
      |  round(CAST(tu AS DOUBLE) / tn, 6) AS prior_mean
      |FROM m ORDER BY nation""".stripMargin) { (s, d) =>
    val j = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nation"),
        (col("o_orderpriority") === "1-URGENT").cast("bigint").as("y"))
    val b = j.groupBy("nation").agg(
      count(lit(1)).as("n"), sum("y").as("u"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val rate = col("u").cast("double") / col("n")
    val w = b
      .withColumn("tn", sum("n").over(wAll))
      .withColumn("tu", sum("u").over(wAll))
      .withColumn("k", count(lit(1)).over(wAll))
      // per-group rates are exact-int divisions but their cross-group SUM
      // is order-sensitive in doubles — quantize each rate onto the 1e-12
      // grid so the sum is an order-free integer sum (q213's discipline)
      .withColumn("sp",
        sum(round(lit(1000000000000.0) * rate).cast("bigint")).over(wAll)
          .cast("double") / 1000000000000.0)
    val pbar = col("sp") / col("k")
    // (p_g − p̄)² quantized to 1e-12 ints before the cross-group sum —
    // the sum is order-free and exact, so s² is engine-identical
    val v = w
      .withColumn("pbar", pbar)
      .withColumn("ssq",
        sum(round(lit(1000000000000.0) * (rate - pbar) * (rate - pbar))
          .cast("bigint")).over(wAll).cast("double") / 1000000000000.0)
    // zero between-group spread has no moment estimate — M defined 0
    // (raw rates pass through), a stated contract
    val m = v.withColumn("mm",
      when(col("ssq") === 0.0, 0.0).otherwise(
        round(greatest(lit(0.0),
          col("pbar") * (lit(1.0) - col("pbar")) * (col("k") - 1) / col("ssq")
            - 1.0), 6)))
    m.select(col("nation"), col("n"), col("u"),
      rate.as("rate_raw"),
      round((col("u").cast("double") + col("mm")
        * (col("tu").cast("double") / col("tn")))
        / (col("n").cast("double") + col("mm")), 6).as("rate_shrunk"),
      round(col("mm"), 6).as("prior_strength"),
      round(col("tu").cast("double") / col("tn"), 6).as("prior_mean"))
      .orderBy("nation")
  }

  // q230 — TOST equivalence test of order value, even-vs-odd orderkey
  // split (the INVERTED hypothesis the family lacked: q167/q216/q226 ask
  // "is there a difference?", but a migration/rollback/parity check needs
  // "are these the SAME within a stated margin?" — absence of
  // significance is NOT evidence of equivalence, TOST's two one-sided
  // tests are). Margin δ = 5,000,000 cents ($50k, ~20% of the mean — a
  // stated contract). Moments per split are exact DECIMAL(38,0) off ONE
  // corpus aggregate; Welch variances, the two z-statistics and the se
  // are single identical-operand-order expressions of those exact
  // integers. The DECISION follows q222's boundary discipline: z
  // quantizes onto the 1e-9 grid and compares to the 1e-9-grid literal
  // Φ⁻¹(0.95) = 1.644853627 as integer-vs-literal — the engines agree
  // even when z sits exactly at the critical value. A/A by construction:
  // the spec pins equivalent = true and |diff| ≪ δ.
  val q230: QueryDef = QueryDef.sql(
    "q230_tost_equivalence",
    """WITH o AS (
      |  SELECT o_orderkey % 2 = 0 AS grp_a,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |c AS (
      |  SELECT
      |    CAST(count(CASE WHEN grp_a THEN 1 END) AS BIGINT) AS n_a,
      |    CAST(count(CASE WHEN NOT grp_a THEN 1 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN grp_a THEN CAST(cents AS HUGEINT) END) AS HUGEINT)
      |      AS sa,
      |    CAST(sum(CASE WHEN NOT grp_a THEN CAST(cents AS HUGEINT) END)
      |      AS HUGEINT) AS sb,
      |    CAST(sum(CASE WHEN grp_a THEN CAST(cents AS HUGEINT) * cents END)
      |      AS HUGEINT) AS sa2,
      |    CAST(sum(CASE WHEN NOT grp_a THEN CAST(cents AS HUGEINT) * cents END)
      |      AS HUGEINT) AS sb2
      |  FROM o),
      |z AS (
      |  SELECT n_a, n_b,
      |    CAST(sa AS DOUBLE) / n_a AS ma, CAST(sb AS DOUBLE) / n_b AS mb,
      |    (CAST(n_a AS DOUBLE) * CAST(sa2 AS DOUBLE)
      |      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
      |      / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1)) AS va,
      |    (CAST(n_b AS DOUBLE) * CAST(sb2 AS DOUBLE)
      |      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
      |      / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1)) AS vb
      |  FROM c),
      |t AS (
      |  SELECT n_a, n_b, ma, mb, ma - mb AS diff,
      |    sqrt(va / n_a + vb / n_b) AS se
      |  FROM z)
      |SELECT n_a, n_b,
      |  round(diff / 100, 6) AS diff_dollars,
      |  round(se / 100, 6) AS se_dollars,
      |  round((diff + 5000000) / se, 6) AS z_lower,
      |  round((5000000 - diff) / se, 6) AS z_upper,
      |  CAST(round(1000000000.0 * (diff + 5000000) / se) AS BIGINT)
      |      >= 1644853627
      |    AND CAST(round(1000000000.0 * (5000000 - diff) / se) AS BIGINT)
      |      >= 1644853627 AS equivalent
      |FROM t""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select(
      (col("o_orderkey") % 2 === 0).as("grp_a"),
      expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    val dec = col("cents").cast("decimal(38,0)")
    val c = o.agg(
      sum(when(col("grp_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("grp_a"), 1L).otherwise(0L)).as("n_b"),
      sum(when(col("grp_a"), dec)).as("sa"),
      sum(when(!col("grp_a"), dec)).as("sb"),
      sum(when(col("grp_a"), dec * col("cents"))).as("sa2"),
      sum(when(!col("grp_a"), dec * col("cents"))).as("sb2"))
    def dbl(c: String) = col(c).cast("double")
    val z = c.select(col("n_a"), col("n_b"),
      (dbl("sa") / col("n_a")).as("ma"), (dbl("sb") / col("n_b")).as("mb"),
      ((dbl("n_a") * dbl("sa2") - dbl("sa") * dbl("sa"))
        / (dbl("n_a") * (dbl("n_a") - 1))).as("va"),
      ((dbl("n_b") * dbl("sb2") - dbl("sb") * dbl("sb"))
        / (dbl("n_b") * (dbl("n_b") - 1))).as("vb"))
    val t = z.select(col("n_a"), col("n_b"), col("ma"), col("mb"),
      (col("ma") - col("mb")).as("diff"),
      sqrt(col("va") / col("n_a") + col("vb") / col("n_b")).as("se"))
    val zLo9 = round(lit(1000000000.0) * (col("diff") + 5000000) / col("se"))
      .cast("bigint")
    val zHi9 = round(lit(1000000000.0) * (lit(5000000) - col("diff")) / col("se"))
      .cast("bigint")
    t.select(col("n_a"), col("n_b"),
      round(col("diff") / 100, 6).as("diff_dollars"),
      round(col("se") / 100, 6).as("se_dollars"),
      round((col("diff") + 5000000) / col("se"), 6).as("z_lower"),
      round((lit(5000000) - col("diff")) / col("se"), 6).as("z_upper"),
      (zLo9 >= 1644853627L && zHi9 >= 1644853627L).as("equivalent"))
  }

  // q231 — experiment power / minimum-detectable-effect planner off
  // q167's conversion funnel (the DESIGN-time companion the readout
  // family lacked: q167 judges a finished experiment, q222 corrects a
  // family of them, but the first question a team asks is "how long
  // must this run?" — MDE at the current sample answers it, and the
  // required-n for a stated 10% relative lift answers the dual). The
  // normal quantiles Φ⁻¹(0.975) = 1.959963985 and Φ⁻¹(0.8) =
  // 0.841621234 are 1e-9-grid LITERALS (q222's convention — no erf in
  // either engine); all counts are exact integers from q167's one
  // user-keyed aggregate + O(1) rollup; MDE and n_required are single
  // identical-operand-order expressions rounded once. Degenerate pooled
  // rates (0 or 1) yield defined zeros, stated in the contract.
  val q231: QueryDef = QueryDef.sql(
    "q231_power_mde",
    """WITH f AS (
      |  SELECT user_id,
      |    min(epoch_us(ts)) AS t0,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tc
      |  FROM events GROUP BY user_id),
      |u AS (
      |  SELECT ((user_id % 1000003) * 2654435761) % 2 AS arm,
      |    CASE WHEN tc IS NOT NULL AND tc <= t0 + 3600000000
      |      THEN 1 ELSE 0 END AS conv
      |  FROM f),
      |c AS (
      |  SELECT
      |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(conv) AS BIGINT) AS conv_t
      |  FROM u),
      |p AS (
      |  SELECT n_a, n_b, conv_t,
      |    CAST(conv_t AS DOUBLE) / (n_a + n_b) AS pbar
      |  FROM c)
      |SELECT n_a, n_b, round(pbar, 6) AS pooled_rate,
      |  round(CASE WHEN conv_t = 0 OR conv_t = n_a + n_b THEN 0.0 ELSE
      |    (1.959963985 + 0.841621234)
      |      * sqrt(pbar * (1.0 - pbar)
      |        * (1.0 / n_a + 1.0 / n_b)) END, 6) AS mde_abs,
      |  CAST(CASE WHEN conv_t = 0 OR conv_t = n_a + n_b THEN 0 ELSE
      |    ceil((1.959963985 + 0.841621234) * (1.959963985 + 0.841621234)
      |      * 2.0 * pbar * (1.0 - pbar)
      |      / (0.1 * pbar * 0.1 * pbar)) END AS BIGINT) AS n_per_arm_10pct
      |FROM p""".stripMargin) { (s, d) =>
    val u = Tables.events(s, d)
      .groupBy("user_id")
      .agg(min("ts_us").as("t0"),
        min(when(col("event_type") === "purchase", col("ts_us"))).as("tc"))
      .select(
        (col("user_id") % 1000003L * 2654435761L % 2L).as("arm"),
        when(col("tc").isNotNull && col("tc") <= col("t0") + 3600000000L, 1)
          .otherwise(0).as("conv"))
    val c = u.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum("conv").cast("long").as("conv_t"))
    val pbar = col("conv_t").cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val p = c.select(col("n_a"), col("n_b"), col("conv_t"),
      pbar.as("pbar"))
    val degenerate = col("conv_t") === 0 ||
      col("conv_t") === col("n_a") + col("n_b")
    val zsum = lit(1.959963985) + lit(0.841621234)
    p.select(col("n_a"), col("n_b"),
      round(col("pbar"), 6).as("pooled_rate"),
      round(when(degenerate, 0.0).otherwise(
        zsum * sqrt(col("pbar") * (lit(1.0) - col("pbar"))
          * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))), 6)
        .as("mde_abs"),
      when(degenerate, 0L).otherwise(
        ceil(zsum * zsum * lit(2.0) * col("pbar") * (lit(1.0) - col("pbar"))
          / (lit(0.1) * col("pbar") * lit(0.1) * col("pbar"))))
        .cast("bigint").as("n_per_arm_10pct"))
  }

  // q234 — sample-ratio-mismatch (SRM) check, overall and per exposure
  // segment (the experiment-platform pre-gate: a biased assignment makes
  // every downstream readout garbage, and the industry-standard alarm is
  // a goodness-of-fit chi-square of the realized arm counts against the
  // designed 50/50 — run FIRST, before q167's effect test; the per-
  // event-type rows localize WHICH exposure surface drifted). Unit =
  // distinct (segment, user) with segment fanned out map-side as
  // ['__all__', event_type] (q122's tagged-union shape — ONE corpus
  // distinct, no second pass for the total row); chi2 = (n_a−n_b)²/N off
  // exact integers, one expression rounded once; the FLAG follows q222's
  // boundary discipline — chi2 quantized onto the 1e-6 grid against the
  // literal χ²₁(0.05) = 3.841459 as integer-vs-literal. A/A: the hash
  // assignment is balanced by construction, spec pins no flag fires.
  val q234: QueryDef = QueryDef.sql(
    "q234_srm_check",
    """WITH p AS (
      |  SELECT DISTINCT seg, user_id FROM (
      |    SELECT unnest(['__all__', event_type]) AS seg, user_id
      |    FROM events)),
      |c AS (
      |  SELECT seg,
      |    CAST(sum(CASE WHEN ((user_id % 1000003) * 2654435761) % 2 = 0
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN ((user_id % 1000003) * 2654435761) % 2 = 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM p GROUP BY seg)
      |SELECT seg, n_a, n_b,
      |  round(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b), 6)
      |    AS chi2,
      |  CAST(round(1000000.0 * (CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
      |    / (n_a + n_b))) AS BIGINT) >= 3841459 AS srm_flag
      |FROM c ORDER BY seg""".stripMargin) { (s, d) =>
    val p = Tables.events(s, d)
      .select(explode(array(lit("__all__"), col("event_type"))).as("seg"),
        col("user_id"))
      .distinct()
    val arm = col("user_id") % 1000003L * 2654435761L % 2L
    val c = p.groupBy("seg").agg(
      sum(when(arm === 0L, 1L).otherwise(0L)).as("n_a"),
      sum(when(arm === 1L, 1L).otherwise(0L)).as("n_b"))
    val chi2raw = ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
      .cast("double") / (col("n_a") + col("n_b"))
    c.select(col("seg"), col("n_a"), col("n_b"),
      round(chi2raw, 6).as("chi2"),
      (round(lit(1000000.0) * chi2raw).cast("bigint") >= 3841459L)
        .as("srm_flag"))
      .orderBy("seg")
  }

  // q235 — group-sequential monitoring with O'Brien–Fleming boundaries
  // over q167's conversion contrast (the PEEKING fix: reading an
  // experiment daily at a flat z=1.96 inflates false alarms severalfold;
  // the OBF schedule spends almost no alpha early — boundary 4.56 at
  // look 1 — and converges to ~2.04 at the final look, which is why it
  // is the default in every sequential-testing platform). Five looks at
  // the entry-day quintiles of the observed range (deterministic integer
  // banding off the bounded day table — q233's split convention);
  // boundaries z_k = 2.040·√(K/k) precomputed as 1e-9-grid LITERALS
  // (4.561578674, 3.225523213, 2.633628675, 2.280789337, 2.040 — q222's
  // convention, no sqrt-of-fraction at query time); each look's
  // two-proportion z off EXACT cumulative integers (one user-keyed
  // aggregate → bounded (look, arm) table → cumulative windows on ≤5
  // rows), quantized onto the 1e-9 grid for the integer-vs-literal
  // crossing decision. A/A by construction: the spec pins that no look
  // crosses and replays every z densely.
  val q235: QueryDef = QueryDef.sql(
    "q235_group_sequential",
    """WITH f AS (
      |  SELECT user_id,
      |    min(epoch_us(ts)) // 86400000000 AS d0,
      |    CASE WHEN min(CASE WHEN event_type = 'purchase'
      |        THEN epoch_us(ts) END) <= min(epoch_us(ts)) + 3600000000
      |      THEN 1 ELSE 0 END AS conv
      |  FROM events GROUP BY user_id),
      |b AS (
      |  SELECT d0, ((user_id % 1000003) * 2654435761) % 2 AS arm,
      |    CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS cv
      |  FROM f GROUP BY 1, 2),
      |dd AS (
      |  SELECT b.*, min(d0) OVER () AS dmin, max(d0) OVER () AS dmax
      |  FROM b),
      |g AS (
      |  SELECT least(4, (5 * (d0 - dmin)) // (dmax - dmin + 1)) + 1 AS lx,
      |    CAST(sum(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS nb,
      |    CAST(sum(CASE WHEN arm = 0 THEN cv ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN arm = 1 THEN cv ELSE 0 END) AS BIGINT) AS cb
      |  FROM dd GROUP BY 1),
      |cum AS (
      |  SELECT lx,
      |    CAST(sum(na) OVER w AS BIGINT) AS na,
      |    CAST(sum(nb) OVER w AS BIGINT) AS nb,
      |    CAST(sum(ca) OVER w AS BIGINT) AS ca,
      |    CAST(sum(cb) OVER w AS BIGINT) AS cb
      |  FROM g WINDOW w AS (ORDER BY lx ROWS UNBOUNDED PRECEDING)),
      |z AS (
      |  SELECT lx, na, nb, ca, cb,
      |    CASE WHEN ca + cb = 0 OR ca + cb = na + nb THEN 0.0 ELSE
      |      (CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
      |      / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
      |        * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
      |        * (1.0 / na + 1.0 / nb)) END AS zv,
      |    CAST(CASE lx WHEN 1 THEN 4.561578674 WHEN 2 THEN 3.225523213
      |      WHEN 3 THEN 2.633628675 WHEN 4 THEN 2.280789337
      |      ELSE 2.040 END AS DOUBLE) AS bound,
      |    CASE lx WHEN 1 THEN 4561578674 WHEN 2 THEN 3225523213
      |      WHEN 3 THEN 2633628675 WHEN 4 THEN 2280789337
      |      ELSE 2040000000 END AS crit9
      |  FROM cum)
      |SELECT lx AS look, na + nb AS n_cum, ca + cb AS conv_cum,
      |  round(zv, 6) AS z, bound,
      |  abs(CAST(round(1000000000.0 * zv) AS BIGINT))
      |    >= CAST(crit9 AS BIGINT) AS crossed
      |FROM z ORDER BY lx""".stripMargin) { (s, d) =>
    val f = Tables.events(s, d)
      .groupBy("user_id")
      .agg(expr("min(ts_us) div 86400000000").as("d0"),
        when(min(when(col("event_type") === "purchase", col("ts_us")))
          <= min(col("ts_us")) + 3600000000L, 1).otherwise(0).as("conv"))
    // collapse to the bounded (day, arm) table BEFORE the range window —
    // a min/max window over the per-user table would funnel O(users)
    // rows through one task (the §5-banned shape)
    val b = f.groupBy(col("d0"),
        (col("user_id") % 1000003L * 2654435761L % 2L).as("arm"))
      .agg(count(lit(1)).as("n"), sum("conv").cast("bigint").as("cv"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val dd = b
      .withColumn("dmin", min("d0").over(wAll))
      .withColumn("dmax", max("d0").over(wAll))
    val g = dd.groupBy(
      (least(lit(4L), expr("(5 * (d0 - dmin)) div (dmax - dmin + 1)")) + 1)
        .as("lx"))
      .agg(
        sum(when(col("arm") === 0L, col("n")).otherwise(0L)).as("na"),
        sum(when(col("arm") === 1L, col("n")).otherwise(0L)).as("nb"),
        sum(when(col("arm") === 0L, col("cv")).otherwise(0L)).as("ca"),
        sum(when(col("arm") === 1L, col("cv")).otherwise(0L)).as("cb"))
    val wCum = Window.orderBy("lx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g.select(col("lx"),
      sum("na").over(wCum).as("na"), sum("nb").over(wCum).as("nb"),
      sum("ca").over(wCum).as("ca"), sum("cb").over(wCum).as("cb"))
    val pPool = (col("ca") + col("cb")).cast("double") /
      (col("na") + col("nb")).cast("double")
    val zv = when(col("ca") + col("cb") === 0 ||
        col("ca") + col("cb") === col("na") + col("nb"), 0.0)
      .otherwise(
        (col("ca").cast("double") / col("na")
          - col("cb").cast("double") / col("nb"))
          / sqrt(pPool * (lit(1.0) - pPool)
            * (lit(1.0) / col("na") + lit(1.0) / col("nb"))))
    val bound = when(col("lx") === 1, 4.561578674)
      .when(col("lx") === 2, 3.225523213)
      .when(col("lx") === 3, 2.633628675)
      .when(col("lx") === 4, 2.280789337)
      .otherwise(2.040)
    // the crossing decision compares z9 against the boundaries as 1e-9-grid
    // INTEGER literals (q222's convention) — no runtime scaling of the
    // boundary in either engine
    val crit9 = when(col("lx") === 1, 4561578674L)
      .when(col("lx") === 2, 3225523213L)
      .when(col("lx") === 3, 2633628675L)
      .when(col("lx") === 4, 2280789337L)
      .otherwise(2040000000L)
    cum.select(col("lx").as("look"),
      (col("na") + col("nb")).as("n_cum"),
      (col("ca") + col("cb")).as("conv_cum"),
      round(zv, 6).as("z"), bound.as("bound"),
      (abs(round(lit(1000000000.0) * zv).cast("bigint")) >= crit9)
        .as("crossed"))
      .orderBy("look")
  }

  // q237 — quantile treatment effects across the experiment arms (the
  // DISTRIBUTIONAL readout q167/q228's means flatten: a treatment that
  // moves the P90 while leaving the median alone — or vice versa — is
  // invisible to a mean contrast, and heterogeneous effects are the rule
  // in spend metrics; QTE at fixed quantiles is the standard first cut).
  // Arms = q167's hash split on the customer key; metric = order value.
  // Everything is INTEGER-exact: the corpus collapses ONCE to the bounded
  // (arm × 1000-cent-bucket) histogram (q171/q185/q225's contract at
  // bucket granularity), each arm's P25/P50/P75/P90 picks an actual
  // bucket by the integer-ceil rank rule (4·cum ≥ n, 2·cum ≥ n,
  // 4·cum ≥ 3n, 10·cum ≥ 9n — pure integer decisions) over per-arm
  // cumulative windows on O(buckets) rows, and each QTE is a difference
  // of exact int64 cents — no doubles anywhere but the final per-row
  // dollar scaling (single IEEE divisions). A/A by construction: the
  // spec pins every |QTE| within a few buckets of zero.
  val q237: QueryDef = QueryDef.sql(
    "q237_quantile_treatment_effect",
    """WITH o AS (
      |  SELECT ((o_custkey % 1000003) * 2654435761) % 2 AS arm,
      |    CAST(round(o_totalprice * 100) AS BIGINT) // 1000 AS vb
      |  FROM orders),
      |h AS (
      |  SELECT arm, vb, CAST(count(*) AS BIGINT) AS c
      |  FROM o GROUP BY arm, vb),
      |cw AS (
      |  SELECT arm, vb, c,
      |    CAST(sum(c) OVER (PARTITION BY arm ORDER BY vb
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |    CAST(sum(c) OVER (PARTITION BY arm) AS BIGINT) AS n
      |  FROM h),
      |qs AS (
      |  SELECT arm, n,
      |    min(CASE WHEN 4 * cum >= n THEN vb END) AS p25,
      |    min(CASE WHEN 2 * cum >= n THEN vb END) AS p50,
      |    min(CASE WHEN 4 * cum >= 3 * n THEN vb END) AS p75,
      |    min(CASE WHEN 10 * cum >= 9 * n THEN vb END) AS p90
      |  FROM cw GROUP BY arm, n),
      |p AS (
      |  SELECT
      |    max(CASE WHEN arm = 0 THEN n END) AS n_a,
      |    max(CASE WHEN arm = 1 THEN n END) AS n_b,
      |    max(CASE WHEN arm = 0 THEN p25 END) AS p25_a,
      |    max(CASE WHEN arm = 1 THEN p25 END) AS p25_b,
      |    max(CASE WHEN arm = 0 THEN p50 END) AS p50_a,
      |    max(CASE WHEN arm = 1 THEN p50 END) AS p50_b,
      |    max(CASE WHEN arm = 0 THEN p75 END) AS p75_a,
      |    max(CASE WHEN arm = 1 THEN p75 END) AS p75_b,
      |    max(CASE WHEN arm = 0 THEN p90 END) AS p90_a,
      |    max(CASE WHEN arm = 1 THEN p90 END) AS p90_b
      |  FROM qs)
      |SELECT q.quantile, p.n_a, p.n_b,
      |  CASE q.quantile WHEN 25 THEN p25_a WHEN 50 THEN p50_a
      |    WHEN 75 THEN p75_a ELSE p90_a END AS vb_a,
      |  CASE q.quantile WHEN 25 THEN p25_b WHEN 50 THEN p50_b
      |    WHEN 75 THEN p75_b ELSE p90_b END AS vb_b,
      |  (CASE q.quantile WHEN 25 THEN p25_a WHEN 50 THEN p50_a
      |    WHEN 75 THEN p75_a ELSE p90_a END
      |   - CASE q.quantile WHEN 25 THEN p25_b WHEN 50 THEN p50_b
      |    WHEN 75 THEN p75_b ELSE p90_b END) AS qte_buckets
      |FROM p CROSS JOIN
      |  (SELECT unnest([25, 50, 75, 90]) AS quantile) q
      |ORDER BY q.quantile""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select(
      (col("o_custkey") % 1000003L * 2654435761L % 2L).as("arm"),
      expr("cast(round(o_totalprice * 100) as bigint) div 1000").as("vb"))
    val h = o.groupBy("arm", "vb").agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("arm").orderBy("vb")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wArm = Window.partitionBy("arm")
    val cw = h
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(wArm))
    val qs = cw.groupBy("arm", "n").agg(
      min(when(lit(4) * col("cum") >= col("n"), col("vb"))).as("p25"),
      min(when(lit(2) * col("cum") >= col("n"), col("vb"))).as("p50"),
      min(when(lit(4) * col("cum") >= lit(3) * col("n"), col("vb"))).as("p75"),
      min(when(lit(10) * col("cum") >= lit(9) * col("n"), col("vb"))).as("p90"))
    val p = qs.agg(
      max(when(col("arm") === 0, col("n"))).as("n_a"),
      max(when(col("arm") === 1, col("n"))).as("n_b"),
      max(when(col("arm") === 0, col("p25"))).as("p25_a"),
      max(when(col("arm") === 1, col("p25"))).as("p25_b"),
      max(when(col("arm") === 0, col("p50"))).as("p50_a"),
      max(when(col("arm") === 1, col("p50"))).as("p50_b"),
      max(when(col("arm") === 0, col("p75"))).as("p75_a"),
      max(when(col("arm") === 1, col("p75"))).as("p75_b"),
      max(when(col("arm") === 0, col("p90"))).as("p90_a"),
      max(when(col("arm") === 1, col("p90"))).as("p90_b"))
    val grid = s.range(0, 4).select(
      (element_at(typedLit(Seq(25, 50, 75, 90)), col("id").cast("int") + 1))
        .as("quantile"))
    val joined = grid.crossJoin(broadcast(p))
    // row-wise dispatch on the `quantile` column — one expression serves
    // all four grid rows, so there is no per-quantile parameter to pass
    def pick(side: String) = when(col("quantile") === 25, col(s"p25_$side"))
      .when(col("quantile") === 50, col(s"p50_$side"))
      .when(col("quantile") === 75, col(s"p75_$side"))
      .otherwise(col(s"p90_$side"))
    joined.select(col("quantile"), col("n_a"), col("n_b"),
      pick("a").as("vb_a"), pick("b").as("vb_b"),
      (pick("a") - pick("b")).as("qte_buckets"))
      .orderBy("quantile")
  }

  val all: Seq[QueryDef] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09,
    q10, q11, q12, q13, q14, q15, q16, q17, q18, q19, q90, q91, q92, q93,
    q94, q95, q96, q97, q106, q108, q110, q111, q112, q113, q142, q143,
    q147, q163, q164, q165, q166, q167, q168, q170, q171, q172, q173, q174,
    q175, q176, q177, q178, q179, q181, q182, q183, q184, q185, q186, q190,
    q191, q192, q195, q197, q198, q202, q205, q207, q209, q211, q212, q213,
    q216, q218, q220, q221, q222, q225, q226, q228, q229, q230, q231, q233,
    q234, q235, q237)
}
