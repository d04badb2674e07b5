"""SparkSQL surface: the same queries expressed as SQL text over
registered temp views — proving the engine exposes both API surfaces
(DataFrame and SQL) over identical Catalyst plans (SURVEY §3: "each
query becomes both a DataFrame-API function and a SparkSQL string").

The strings here are Spark-dialect (they run through ``spark.sql``);
differential equality against the DataFrame implementations is
asserted in tests/test_sql_api.py. A representative slice is enough —
both surfaces compile to the same logical plan, so one equality test
per operator family (agg, window, star join, semi/anti join, explode)
covers the wiring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.catalog import register_views

# money_sum / money_avg in Spark-SQL form (functions/numeric.py).
_MS = "CAST(SUM(CAST({x} AS DECIMAL(38,6))) AS DOUBLE)"
_MA = (
    "CAST(ROUND(CAST(SUM(CAST({x} AS DECIMAL(38,6))) AS DECIMAL(38,18))"
    " / COUNT(*), {s}) AS DOUBLE)"
)


def _ms(x: str) -> str:
    return _MS.format(x=x)


def _ma(x: str, s: int = 2) -> str:
    return _MA.format(x=x, s=s)


SQL_QUERIES: dict[str, str] = {
    "q01_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               {_ms('l_quantity')} AS sum_qty,
               {_ms('l_extendedprice')} AS sum_base_price,
               {_ms('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               {_ms('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
               {_ma('l_quantity', 4)} AS avg_qty,
               {_ma('l_extendedprice', 4)} AS avg_price,
               {_ma('l_discount', 4)} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q03_top_customers_per_segment": f"""
        SELECT c_mktsegment, c_custkey, c_name, total_spent, n_orders, rank
        FROM (
            SELECT c_mktsegment, c_custkey, c_name, total_spent, n_orders,
                   ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                      ORDER BY total_spent DESC, c_custkey) AS rank
            FROM (
                SELECT c_mktsegment, c_custkey, c_name,
                       {_ms('o_totalprice')} AS total_spent,
                       COUNT(*) AS n_orders
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2, 3
            )
        )
        WHERE rank <= 5
    """,
    "q07_star_join_revenue": f"""
        SELECT r_name, n_name,
               COUNT(DISTINCT c_custkey) AS unique_customers,
               COUNT(*) AS n_orders,
               {_ms('o_totalprice')} AS total_revenue,
               {_ma('o_totalprice')} AS avg_order_value
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    "q04_qoq_growth": """
        SELECT o_year, o_quarter, n_orders,
               LAG(n_orders) OVER w AS prev_orders,
               -- 100.0D: Spark SQL parses a bare 100.0 as DECIMAL(3,1),
               -- which would make growth_pct DECIMAL (renders '-1.10')
               -- where the DataFrame twin's F.lit(100.0) is DOUBLE
               -- (renders '-1.1') — a driver-hash mismatch.
               ROUND((n_orders - LAG(n_orders) OVER w) * 100.0D
                     / NULLIF(LAG(n_orders) OVER w, 0), 2) AS growth_pct
        FROM (
            SELECT YEAR(o_orderdate) AS o_year, QUARTER(o_orderdate) AS o_quarter,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY 1, 2
        )
        WINDOW w AS (ORDER BY o_year, o_quarter)
    """,
    "q05_pct_of_total_by_priority": """
        SELECT o_orderpriority, n_orders,
               ROUND(n_orders * 100.0 / SUM(n_orders) OVER (), 2) AS pct_of_total
        FROM (
            SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders GROUP BY 1
        )
    """,
    "q10_urgent_customers_semi_join": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
        )
    """,
    "q11_no_urgent_anti_join": """
        SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        FROM customer
        WHERE NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
        )
    """,
    "q16_explode_part_tokens": """
        SELECT token, COUNT(*) AS n_parts
        FROM (SELECT EXPLODE(SPLIT(p_name, ' ')) AS token FROM part)
        GROUP BY token
    """,
    "q50_order_price_percentiles": """
        SELECT o_orderpriority,
               ROUND(PERCENTILE(CAST(o_totalprice AS DOUBLE), 0.25), 4) AS p25,
               ROUND(PERCENTILE(CAST(o_totalprice AS DOUBLE), 0.5), 4) AS p50,
               ROUND(PERCENTILE(CAST(o_totalprice AS DOUBLE), 0.75), 4) AS p75,
               ROUND(PERCENTILE(CAST(o_totalprice AS DOUBLE), 0.99), 4) AS p99
        FROM orders
        GROUP BY o_orderpriority
    """,
    "q52_grouping_sets": f"""
        SELECT n_name, o_orderpriority,
               CAST(GROUPING_ID(n_name, o_orderpriority) AS BIGINT) AS gid,
               COUNT(*) AS n_orders,
               {_ms('o_totalprice')} AS total_revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name), (o_orderpriority))
    """,
    "q09_copurchase_pairs_theta": """
        SELECT n_cooccur, COUNT(*) AS n_pairs
        FROM (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   COUNT(*) AS n_cooccur
            FROM lineitem a
            JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
        )
        GROUP BY n_cooccur
    """,
    "q34_events_hourly_window": f"""
        SELECT DATE_FORMAT(win.start, 'yyyy-MM-dd HH:mm:ss') AS hour_start,
               event_type,
               COUNT(*) AS n_events,
               {_ms('value')} AS total_value
        FROM (SELECT WINDOW(ts, '1 hour') AS win, event_type, value FROM events)
        GROUP BY win, event_type
    """,
    "q46_rollup_revenue": f"""
        SELECT r_name, n_name,
               CAST(GROUPING_ID(r_name, n_name) AS BIGINT) AS gid,
               COUNT(*) AS n_orders,
               {_ms('o_totalprice')} AS total_revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    "q49_cube_lineitem_status": f"""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               COUNT(*) AS n_lines,
               {_ms('l_extendedprice')} AS total_price
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "q59_moving_avg_revenue": f"""
        SELECT DATE_FORMAT(o_orderdate, 'yyyy-MM-dd') AS order_date,
               daily_revenue,
               ROUND(CAST(SUM(CAST(daily_revenue AS DECIMAL(38,6))) OVER w AS DOUBLE)
                     / (COUNT(*) OVER w), 4) AS ma30
        FROM (
            SELECT o_orderdate, {_ms('o_totalprice')} AS daily_revenue
            FROM orders GROUP BY 1
        )
        WINDOW w AS (ORDER BY UNIX_DATE(CAST(o_orderdate AS DATE))
                     RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
    """,
    # round-4 corpus families, one SQL twin per new operator shape:
    # map-side integer-hash filter (q84), pure bit-math clustering key
    # (q86), event-time bars with total-order min_by/max_by (q98).
    "q84_weighted_order_sample": """
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS weight_cents,
               o_orderpriority
        FROM orders
        WHERE CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 15),
                        16, 10) AS BIGINT)
              < CAST(round(o_totalprice * 100) AS BIGINT) * 800000000
    """,
    "q86_zorder_orders": """
        WITH xy AS (
            SELECT CAST(pmod(o_custkey, 256) AS BIGINT) AS x,
                   CAST(pmod(datediff(CAST(o_orderdate AS DATE),
                                      DATE '1970-01-01'), 256) AS BIGINT) AS y
            FROM orders
        ),
        zv AS (SELECT shiftleft(shiftright(x, 0) & 1, 1) + shiftleft(shiftright(y, 0) & 1, 0) + shiftleft(shiftright(x, 1) & 1, 3) + shiftleft(shiftright(y, 1) & 1, 2) + shiftleft(shiftright(x, 2) & 1, 5) + shiftleft(shiftright(y, 2) & 1, 4) + shiftleft(shiftright(x, 3) & 1, 7) + shiftleft(shiftright(y, 3) & 1, 6) + shiftleft(shiftright(x, 4) & 1, 9) + shiftleft(shiftright(y, 4) & 1, 8) + shiftleft(shiftright(x, 5) & 1, 11) + shiftleft(shiftright(y, 5) & 1, 10) + shiftleft(shiftright(x, 6) & 1, 13) + shiftleft(shiftright(y, 6) & 1, 12) + shiftleft(shiftright(x, 7) & 1, 15) + shiftleft(shiftright(y, 7) & 1, 14) AS z FROM xy)
        SELECT shiftright(z, 8) AS zbin,
               COUNT(*) AS n_orders,
               MIN(z) AS z_lo,
               MAX(z) AS z_hi
        FROM zv
        GROUP BY 1
    """,
    "q107_orders_drift": """
        WITH s AS (SELECT (MIN(o_orderkey) + MAX(o_orderkey)) DIV 2 AS split
                   FROM orders),
        mm AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
               FROM orders),
        rows_ AS (
            SELECT 'o_totalprice' AS column_name,
                   CAST(CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 10)),
                                   9) AS INT) AS STRING) AS bucket,
                   CASE WHEN o_orderkey <= split THEN 'ref' ELSE 'cur' END AS side
            FROM orders CROSS JOIN mm CROSS JOIN s
            UNION ALL
            SELECT 'o_orderpriority', o_orderpriority,
                   CASE WHEN o_orderkey <= split THEN 'ref' ELSE 'cur' END
            FROM orders CROSS JOIN s
            UNION ALL
            SELECT 'o_orderstatus', o_orderstatus,
                   CASE WHEN o_orderkey <= split THEN 'ref' ELSE 'cur' END
            FROM orders CROSS JOIN s
        ),
        pb AS (
            SELECT column_name, bucket,
                   SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS c_ref,
                   SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS c_cur
            FROM rows_ GROUP BY 1, 2
        ),
        wn AS (
            SELECT *,
                   SUM(c_ref) OVER (PARTITION BY column_name) AS n_ref,
                   SUM(c_cur) OVER (PARTITION BY column_name) AS n_cur,
                   COUNT(*) OVER (PARTITION BY column_name) AS n_buckets
            FROM pb
        ),
        terms AS (
            SELECT column_name, n_ref, n_cur, n_buckets,
                   CAST(ROUND((((c_cur + 1.0) / (n_cur + n_buckets)
                                - (c_ref + 1.0) / (n_ref + n_buckets))
                               * ln(((c_cur + 1.0) / (n_cur + n_buckets))
                                    / ((c_ref + 1.0) / (n_ref + n_buckets))))
                              * 1e9) AS BIGINT) AS t
            FROM wn
        )
        SELECT column_name,
               ROUND(SUM(t) / 1e9, 4) AS psi,
               MAX(n_ref) AS n_ref,
               MAX(n_cur) AS n_cur,
               CAST(MAX(n_buckets) AS BIGINT) AS n_buckets
        FROM terms
        GROUP BY column_name
    """,
    "q98_ohlc_bars": f"""
        SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS bar_start,
               event_type,
               min_by(value, struct(ts, event_id)) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               max_by(value, struct(ts, event_id)) AS close,
               COUNT(*) AS n_events,
               {_ms('value')} AS volume
        FROM events
        GROUP BY window(ts, '15 minutes'), event_type
    """,
    # q118's SQL twin is the GLOBAL hash-sample pipeline — equal to the
    # registered incremental form by the bottom-k merge closure, so the
    # differential test proves the closure through a third path
    # (incremental DataFrame ≡ global SparkSQL ≡ global DuckDB).
    "q118_incremental_quantiles": """
        WITH hashed AS (
            SELECT o_orderpriority AS g,
                   CAST(CONV(SUBSTRING(MD5(CAST(o_orderkey AS STRING)), 1, 15),
                             16, 10) AS BIGINT) AS h,
                   o_totalprice AS val
            FROM orders
        ),
        bk AS (
            SELECT g, h, val FROM (
                SELECT g, h, val,
                       ROW_NUMBER() OVER (PARTITION BY g ORDER BY h, val) AS brn
                FROM hashed
            ) WHERE brn <= 256
        ),
        ranked AS (
            SELECT g, val,
                   ROW_NUMBER() OVER (PARTITION BY g ORDER BY val, h) AS rn,
                   COUNT(*) OVER (PARTITION BY g) AS n
            FROM bk
        )
        SELECT g AS o_orderpriority, MAX(n) AS n_sample,
               MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN val END) AS p50,
               MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT) THEN val END) AS p90,
               MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN val END) AS p99
        FROM ranked
        GROUP BY g
    """,
}


def run_sql(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Run one SQL-surface query (views registered on demand)."""
    register_views(spark, sf_dir)
    return spark.sql(SQL_QUERIES[name])
