"""Extended SQL-surface operators (round 2 widening of SURVEY §2E).

Everything here is dialect-shared ANSI SQL run through ``spark.sql`` (the
engine's warehouse surface, exactly what a dbt model's SELECT goes through)
with a DuckDB oracle stating the identical semantics. Determinism notes per
query; floating-point results are either exact rational arithmetic (window
distribution functions) or doubles derived from exact DECIMAL moments with
the arithmetic expression written identically for both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_spark.queries.scratch import Scratch, scratch_query
from dbt_spark.session import load_tables


# --------------------------------------------------------------------------
# aggregation extensions
# --------------------------------------------------------------------------

def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-aggregate FILTER (WHERE ...) clauses — one scan, one shuffle,
    N conditional aggregates (the SQL-standard form of conditional
    aggregation; reference fixtures express the same with CASE WHEN,
    jaffle_shop.py:98+)."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql("""
        SELECT o_orderstatus,
               CAST(count(*) FILTER (WHERE o_totalprice > 150000) AS BIGINT)
                   AS n_big,
               CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
                   AS n_urgent,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (WHERE year(o_orderdate) = 1997) AS DOUBLE)
                   AS rev_1997
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """)


def agg_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (variance / stddev / correlation) computed from
    EXACT decimal moments, with the final double arithmetic written as the
    same expression in both engines.

    Scale note: this is the numerically-stable-at-scale pattern too — the
    decimal partial sums are order-independent (exact), so map-side partial
    aggregation across 1000 executors gives bit-identical results, unlike
    naive double summation where the shuffle order leaks into the result."""
    load_tables(spark, sf_dir, "events")
    return spark.sql(_STATS_SQL_SPARK)


# Shared arithmetic (identical text in both dialects): moments are exact
# decimals; variance/correlation derived in IEEE double with a fixed op order.
_STATS_MOMENTS = """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(value AS DECIMAL(18,6))) AS sx,
               sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS sxx,
               sum(CAST(user_id AS DECIMAL(18,6))) AS sy,
               sum(CAST(user_id AS DECIMAL(18,6)) * CAST(user_id AS DECIMAL(18,6))) AS syy,
               sum(CAST(value AS DECIMAL(18,6)) * CAST(user_id AS DECIMAL(18,6))) AS sxy
        FROM events GROUP BY event_type
"""

# round(x, 6): the decimal->double cast of the moments is correctly rounded
# in the JVM but not guaranteed so in every engine — the final doubles can
# differ by 1 ulp, which a fixed-decimal round absorbs.
_STATS_FINAL = """
        SELECT event_type, n,
               round((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                   / (n - 1), 6) AS var_value,
               round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                   / (n - 1)), 6) AS stddev_value,
               round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
                   / (sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                      * sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)),
                   9) AS corr_value_user
        FROM moments ORDER BY event_type
"""

_STATS_SQL_SPARK = f"WITH moments AS ({_STATS_MOMENTS}) {_STATS_FINAL}"


# --------------------------------------------------------------------------
# window-function extensions
# --------------------------------------------------------------------------

def window_ntile_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist — distribution window functions.
    Ordered by a unique key so ranks are total; pr/cd are exact rationals
    (k/n in double), identical across engines."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql("""
        SELECT o_orderkey, o_orderstatus,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd
        FROM orders
        WHERE o_custkey < 500
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
    """)


def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over an explicit full-partition
    ROWS frame (last_value needs it — the default frame ends at CURRENT ROW)."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql("""
        SELECT o_orderkey, o_custkey,
               first_value(o_orderkey) OVER w AS first_ok,
               last_value(o_orderkey) OVER w AS last_ok,
               nth_value(o_orderkey, 3) OVER w AS third_ok
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """)


def gaps_islands_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization in pure SQL: a new island starts when
    the gap to the previous event exceeds 30 min; island id is a running sum
    of the start flags. The batch-SQL twin of session_window_agg (same
    semantics, expressible in any warehouse — the form a dbt model would
    take). Two window passes + one aggregate, all on the user_id shuffle key.
    """
    load_tables(spark, sf_dir, "events")
    return spark.sql(_GAPS_SQL.format(EPOCH="CAST(unix_timestamp(ts) AS BIGINT)"))


_GAPS_SQL = """
    WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN {EPOCH}
                         - lag({EPOCH}) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id)
                         > 1800
                    THEN 1 ELSE 0 END AS new_island
        FROM events
    ),
    islands AS (
        SELECT user_id, event_id, ts,
               SUM(new_island) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS island_id
        FROM flagged
    )
    SELECT user_id,
           CAST(island_id AS BIGINT) AS island_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM islands
    GROUP BY user_id, island_id
"""


# --------------------------------------------------------------------------
# pivot (native relational pivot operator)
# --------------------------------------------------------------------------

def pivot_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native pivot operator (groupBy().pivot(values).agg()) — the
    engine-level rotation, vs pivot_conditional's CASE-WHEN form. Explicit
    value list keeps it one pass (no distinct-values pre-query) and a stable
    output schema — mandatory at scale."""
    t = load_tables(spark, sf_dir, "orders")
    pivoted = (
        t["orders"]
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)).cast("bigint"))
    )
    # Spark yields NULL for a (priority, status) cell with no rows; SQL's
    # count(*) FILTER yields 0 — coalesce so the semantics match on sparse data.
    return pivoted.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("F", "O", "P")],
    ).orderBy("o_orderpriority")


# --------------------------------------------------------------------------
# nested types
# --------------------------------------------------------------------------

def nested_struct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct build / field access / JSON serialization — dbt passes nested
    types through opaquely (SURVEY §1.2); Spark supports them natively, and
    the canonical JSON form is engine-checkable."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql("""
        SELECT o_orderkey,
               named_struct('status', o_orderstatus,
                            'priority', o_orderpriority).status AS status_field,
               to_json(named_struct('k', o_orderkey,
                                    's', o_orderstatus)) AS js
        FROM orders WHERE o_custkey < 200
    """)


# --------------------------------------------------------------------------
# source freshness (the operator, driven with a pinned "now")
# --------------------------------------------------------------------------

def source_freshness_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max(loaded_at_field) freshness (reference: three-path freshness,
    task/freshness.py:111-181 'field' path) with a pinned now → age seconds
    and warn/error status against thresholds."""
    load_tables(spark, sf_dir, "events")
    return spark.sql("""
        SELECT max(ts) AS max_loaded_at,
               CAST(unix_timestamp(TIMESTAMP '2025-01-01 00:00:00')
                    - unix_timestamp(max(ts)) AS BIGINT) AS age_s,
               CASE
                   WHEN unix_timestamp(TIMESTAMP '2025-01-01 00:00:00')
                        - unix_timestamp(max(ts)) > 86400 * 365 THEN 'error'
                   WHEN unix_timestamp(TIMESTAMP '2025-01-01 00:00:00')
                        - unix_timestamp(max(ts)) > 86400 * 30 THEN 'warn'
                   ELSE 'pass'
               END AS freshness_status
        FROM events
    """)


# --------------------------------------------------------------------------
# recursive / lateral / multiset SQL surface
# --------------------------------------------------------------------------

def recursive_cte_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE date spine (the dbt-utils date_spine idiom) left-joined
    to per-day order counts — recursion generates the calendar axis, so days
    with zero orders still appear. Recursion depth is data-independent, and
    each Spark recursion step costs a full plan-analyze + job launch (~80 ms
    of fixed overhead — r2 bench: 90 steps = 7.8 s of pure driver time), so
    the recursion counts WEEKS (13 steps) and a 7-row inline table expands
    days: same 90-day spine, 7x fewer iterations. Hot paths should use the
    explode(sequence()) date_spine macro (include/global_macros) — this entry
    exists to exercise the WITH RECURSIVE operator itself."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql("""
        WITH RECURSIVE weeks(w) AS (
            SELECT 0 UNION ALL SELECT w + 1 FROM weeks WHERE w < 12
        ),
        spine(n) AS (
            SELECT w * 7 + dd.d AS n
            FROM weeks CROSS JOIN (SELECT explode(array(0,1,2,3,4,5,6)) AS d) dd
            WHERE w * 7 + dd.d < 90
        ),
        days AS (SELECT date_add(DATE '1996-01-01', n) AS d FROM spine),
        per_day AS (
            SELECT CAST(o_orderdate AS DATE) AS od,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS day_revenue
            FROM orders GROUP BY 1
        )
        SELECT CAST(d AS TIMESTAMP) AS d, coalesce(n_orders, 0) AS n_orders,
               coalesce(day_revenue, 0.0) AS day_revenue
        FROM days LEFT JOIN per_day ON d = od
        ORDER BY d
    """)


def lateral_topn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: top-2 customers by balance per nation —
    the dependent-join form of top-n-per-group (the window form is
    window_rank_funcs; both shapes are SURVEY §2E capabilities)."""
    load_tables(spark, sf_dir, "nation", "customer")
    return spark.sql("""
        SELECT n_name, c.c_name, c.c_acctbal
        FROM nation,
        LATERAL (SELECT c_name, c_acctbal FROM customer
                 WHERE c_nationkey = n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) AS c
        ORDER BY n_name, c_acctbal DESC, c_name
    """)


def group_by_all_shorthand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL — modern-SQL shorthand both engines
    support; grouping keys inferred from the non-aggregate select list."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
    """)


def set_ops_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL / INTERSECT ALL — bag (multiset) semantics: duplicates
    carry multiplicity, unlike the set-semantics EXCEPT/INTERSECT pair
    (set_except / set_intersect)."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql("""
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT ALL
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        INTERSECT ALL
        SELECT o_custkey FROM orders WHERE o_totalprice > 50000
    """)


def nullsafe_join_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NOT DISTINCT FROM join (null-safe equality: NULL keys match each
    other — a plain equi-join drops them) + explicit NULLS FIRST ordering."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql("""
        WITH keyed AS (
            SELECT nullif(o_orderstatus, 'P') AS st,
                   CAST(count(*) AS BIGINT) AS n
            FROM orders GROUP BY 1
        ),
        dim AS (
            SELECT nullif(s, 'P') AS st, label FROM (
                VALUES ('F', 'finished'), ('O', 'open'), ('P', 'pending')
            ) AS v(s, label)
        )
        SELECT k.st, k.n, d.label
        FROM keyed k JOIN dim d ON k.st IS NOT DISTINCT FROM d.st
        ORDER BY k.st NULLS FIRST
    """)


def interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval arithmetic: date + INTERVAL, month truncation,
    day-difference to an anchor, month addition — the date-spine/microbatch
    building blocks (reference microbatch.py:123-193 timestamp math)."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql("""
        SELECT o_orderkey,
               o_orderdate + INTERVAL 30 DAYS AS due_date,
               date_trunc('month', o_orderdate) AS month_start,
               CAST(datediff(TIMESTAMP '1998-08-01 00:00:00', o_orderdate)
                    AS BIGINT) AS days_to_anchor,
               CAST(add_months(o_orderdate, 3) AS TIMESTAMP) AS plus_quarter
        FROM orders WHERE o_custkey < 300
    """)


# --------------------------------------------------------------------------
# multi-format sources (SURVEY §2E scan row: parquet/csv/json connectors)
# --------------------------------------------------------------------------

@scratch_query
def scan_multi_format_sources(spark: SparkSession, sf_dir: str,
                              scratch: Scratch) -> DataFrame:
    """The same relation served from JSON and CSV connectors, unioned and
    aggregated — proves the non-parquet source paths (spark.read.json/csv
    with explicit schemas; headers, type casts) give byte-identical results.
    Doubles survive the text round-trip exactly (shortest-repr writing)."""
    t = load_tables(spark, sf_dir, "events")
    base = (
        t["events"]
        .filter(F.col("event_id") < 2000)
        .select("event_id", "event_type", "value")
    )
    jdir, cdir = scratch.path("events_json"), scratch.path("events_csv")
    base.filter(F.col("event_id") % 2 == 0).write.mode("overwrite").json(jdir)
    base.filter(F.col("event_id") % 2 == 1).write.mode("overwrite").option(
        "header", True
    ).csv(cdir)
    schema = "event_id bigint, event_type string, value double"
    j = spark.read.schema(schema).json(jdir)
    c = spark.read.schema(schema).option("header", True).csv(cdir)
    return (
        j.unionByName(c)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total"),
            F.min("event_id").cast("bigint").alias("min_id"),
            F.max("event_id").cast("bigint").alias("max_id"),
        )
        .orderBy("event_type")
    )


def window_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) as a window aggregate. Spark forbids DISTINCT inside
    window functions, so the engine form is ``size(collect_set(x) OVER w)``
    — same semantics, and the per-partition set stays bounded by the key's
    distinct values (here ≤3 return flags), not the partition row count.
    The oracle states it as SQL-standard count(DISTINCT) OVER."""
    load_tables(spark, sf_dir, "lineitem")
    return spark.sql("""
        SELECT l_orderkey, l_linenumber,
               CAST(size(collect_set(l_returnflag)
                    OVER (PARTITION BY l_orderkey)) AS BIGINT) AS n_flags,
               CAST(size(collect_set(l_suppkey)
                    OVER (PARTITION BY l_orderkey)) AS BIGINT) AS n_suppliers
        FROM lineitem
        WHERE l_orderkey < 1000
    """)


def map_column_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column construction + lookup + introspection (MapType is
    native in Spark; dbt passes such type strings through opaquely, SURVEY
    §1.2). Output scalars only — map cells never reach the driver hasher."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql("""
        SELECT o_orderkey,
               element_at(m, 'status') AS status_val,
               element_at(m, 'prio') AS prio_val,
               CAST(cardinality(m) AS BIGINT) AS n_entries,
               array_join(array_sort(map_keys(m)), ',') AS keys_csv
        FROM (SELECT o_orderkey,
                     map('status', o_orderstatus, 'prio', o_orderpriority) AS m
              FROM orders WHERE o_orderkey < 500)
    """)


def approx_percentile_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile verified against its own contract (the
    approx_distinct_bounded pattern for the quantile sketch): output the
    EXACT median plus a flag that the KLL/GK estimate (accuracy=10000 ⟹
    rank error ≤ 1/10000) lands within the value band spanned by the exact
    p±1% rank quantiles. The oracle states the flag must be TRUE — the
    approximate operator is gate-checked without comparing sketch internals
    across engines. At 100 TB the sketch is the only option (exact
    percentile sorts every group); this query certifies its error bound."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql("""
        SELECT o_orderstatus,
               round(CAST(percentile(o_totalprice, 0.5) AS DOUBLE), 4) AS exact_median,
               CAST(
                 approx_percentile(o_totalprice, 0.5, 10000)
                   BETWEEN percentile(o_totalprice, 0.49)
                       AND percentile(o_totalprice, 0.51)
                 AS BOOLEAN) AS within_bound
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """)


def grouping_id_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING()/GROUPING_ID() over ROLLUP — the standard way to tell a
    subtotal row's NULL from a genuine NULL group value. One aggregate, same
    expand-based plan as any grouping set."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql("""
        SELECT o_orderstatus,
               o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
               CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT)
                   AS gid,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """)


def try_error_handling_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-adjacent error-to-NULL operators: try_divide (NULL on /0),
    TRY_CAST of non-numeric strings, and NULLIF guards — the
    pipeline-robustness idiom that keeps one bad row from failing a
    100 TB job. All codegen'd; semantics identical in DuckDB's TRY_CAST /
    NULLIF forms (stated in the oracle)."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql("""
        SELECT o_orderkey,
               try_divide(o_totalprice, o_orderkey % 3) AS ratio_maybe,
               TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS prio_num,
               TRY_CAST(o_orderpriority AS INT) AS always_null,
               NULLIF(o_orderstatus, 'O') AS status_or_null
        FROM orders
        WHERE o_orderkey < 2000
    """)



def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-sequential conversion funnel (signup -> view after signup ->
    purchase after that view): the product-analytics staple. Each step is a
    conditional min-timestamp over events joined back per user — NULL
    propagation does the gating (ts > NULL is NULL, so a user who never hit
    step k contributes nothing to step k+1).

    Scale: three aggregates + two joins, all keyed on user_id — one
    co-partitioned shuffle chain, no window over the full event stream."""
    t = load_tables(spark, sf_dir, "events")
    e = t["events"]
    s1 = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t1"))
    j2 = (
        e.join(s1, "user_id")
        .groupBy("user_id", "t1")
        .agg(F.min(F.when(
            (F.col("event_type") == "view") & (F.col("ts") > F.col("t1")),
            F.col("ts"))).alias("t2"))
    )
    j3 = (
        e.join(j2, "user_id")
        .groupBy("user_id", "t1", "t2")
        .agg(F.min(F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
            F.col("ts"))).alias("t3"))
    )
    return j3.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.count("t1").cast("bigint").alias("step_signup"),
        F.count("t2").cast("bigint").alias("step_view"),
        F.count("t3").cast("bigint").alias("step_purchase"),
    )


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-activity week,
    counted in each later activity week, with the retention ratio — the
    other product-analytics staple.

    Scale: two aggregates (first-activity, distinct user-week) and one join,
    all keyed on user_id / cohort week; the output is cohort-weeks x offset
    — tiny at any input scale."""
    t = load_tables(spark, sf_dir, "events")
    e = t["events"]
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    sizes = firsts.groupBy("cohort_week").agg(
        F.count("*").cast("bigint").alias("cohort_size"))
    return (
        activity.join(firsts, "user_id")
        .groupBy("cohort_week",
                 (F.datediff(F.col("act_week"), F.col("cohort_week")) / 7)
                 .cast("bigint").alias("week_offset"))
        .agg(F.count("*").cast("bigint").alias("n_active"))
        .join(sizes, "cohort_week")
        .select(
            F.col("cohort_week").cast("timestamp").alias("cohort_week"),
            "week_offset", "n_active", "cohort_size",
            (F.col("n_active").cast("double") / F.col("cohort_size"))
            .alias("retention"),
        )
    )


ORACLES: dict[str, str] = {
    "event_funnel": """
        WITH s1 AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup' THEN ts END) AS t1
            FROM events GROUP BY user_id
        ),
        j2 AS (
            SELECT e.user_id, s1.t1,
                   min(CASE WHEN e.event_type = 'view' AND e.ts > s1.t1
                       THEN e.ts END) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            GROUP BY e.user_id, s1.t1
        ),
        j3 AS (
            SELECT e.user_id, j2.t1, j2.t2,
                   min(CASE WHEN e.event_type = 'purchase' AND e.ts > j2.t2
                       THEN e.ts END) AS t3
            FROM events e JOIN j2 ON e.user_id = j2.user_id
            GROUP BY e.user_id, j2.t1, j2.t2
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(count(t1) AS BIGINT) AS step_signup,
               CAST(count(t2) AS BIGINT) AS step_view,
               CAST(count(t3) AS BIGINT) AS step_purchase
        FROM j3
    """,
    "retention_cohorts": """
        WITH firsts AS (
            SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week
            FROM events
        ),
        sizes AS (
            SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
            FROM firsts GROUP BY cohort_week
        )
        SELECT CAST(f.cohort_week AS TIMESTAMP) AS cohort_week,
               CAST(datediff('day', f.cohort_week, a.act_week) / 7 AS BIGINT)
                   AS week_offset,
               CAST(count(*) AS BIGINT) AS n_active,
               s.cohort_size,
               CAST(count(*) AS DOUBLE) / s.cohort_size AS retention
        FROM activity a
        JOIN firsts f ON a.user_id = f.user_id
        JOIN sizes s ON f.cohort_week = s.cohort_week
        GROUP BY f.cohort_week, week_offset, s.cohort_size
    """,

    "approx_percentile_bounded": """
        SELECT o_orderstatus,
               round(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 4)
                   AS exact_median,
               TRUE AS within_bound
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "grouping_id_rollup": """
        SELECT o_orderstatus,
               o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
               CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT)
                   AS gid,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "try_error_handling_ops": """
        SELECT o_orderkey,
               o_totalprice / NULLIF(o_orderkey % 3, 0) AS ratio_maybe,
               TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS prio_num,
               TRY_CAST(o_orderpriority AS INT) AS always_null,
               NULLIF(o_orderstatus, 'O') AS status_or_null
        FROM orders
        WHERE o_orderkey < 2000
    """,
    "window_count_distinct": """
        SELECT l_orderkey, l_linenumber,
               CAST(count(DISTINCT l_returnflag)
                    OVER (PARTITION BY l_orderkey) AS BIGINT) AS n_flags,
               CAST(count(DISTINCT l_suppkey)
                    OVER (PARTITION BY l_orderkey) AS BIGINT) AS n_suppliers
        FROM lineitem
        WHERE l_orderkey < 1000
    """,
    "map_column_ops": """
        SELECT o_orderkey,
               m['status'][1] AS status_val,
               m['prio'][1] AS prio_val,
               CAST(cardinality(m) AS BIGINT) AS n_entries,
               array_to_string(list_sort(map_keys(m)), ',') AS keys_csv
        FROM (SELECT o_orderkey,
                     map(['status', 'prio'],
                         [o_orderstatus, o_orderpriority]) AS m
              FROM orders WHERE o_orderkey < 500)
    """,
    "interval_arithmetic": """
        SELECT o_orderkey,
               o_orderdate + INTERVAL 30 DAY AS due_date,
               date_trunc('month', o_orderdate) AS month_start,
               CAST(datediff('day', o_orderdate, TIMESTAMP '1998-08-01 00:00:00')
                    AS BIGINT) AS days_to_anchor,
               o_orderdate + INTERVAL 3 MONTH AS plus_quarter
        FROM orders WHERE o_custkey < 300
    """,
    "scan_multi_format_sources": """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
               CAST(min(event_id) AS BIGINT) AS min_id,
               CAST(max(event_id) AS BIGINT) AS max_id
        FROM events WHERE event_id < 2000
        GROUP BY event_type ORDER BY event_type
    """,
    "recursive_cte_date_spine": """
        WITH RECURSIVE spine(n) AS (
            SELECT 0 UNION ALL SELECT n + 1 FROM spine WHERE n < 89
        ),
        days AS (SELECT DATE '1996-01-01' + n AS d FROM spine),
        per_day AS (
            SELECT CAST(o_orderdate AS DATE) AS od,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS day_revenue
            FROM orders GROUP BY 1
        )
        SELECT CAST(d AS TIMESTAMP) AS d, coalesce(n_orders, 0) AS n_orders,
               coalesce(day_revenue, 0.0) AS day_revenue
        FROM days LEFT JOIN per_day ON d = od
        ORDER BY d
    """,
    "lateral_topn_join": """
        SELECT n_name, c.c_name, c.c_acctbal
        FROM nation,
        LATERAL (SELECT c_name, c_acctbal FROM customer
                 WHERE c_nationkey = n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) AS c
        ORDER BY n_name, c_acctbal DESC, c_name
    """,
    "group_by_all_shorthand": """
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
    """,
    "set_ops_multiset": """
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT ALL
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        INTERSECT ALL
        SELECT o_custkey FROM orders WHERE o_totalprice > 50000
    """,
    "nullsafe_join_null_ordering": """
        WITH keyed AS (
            SELECT nullif(o_orderstatus, 'P') AS st,
                   CAST(count(*) AS BIGINT) AS n
            FROM orders GROUP BY 1
        ),
        dim AS (
            SELECT nullif(s, 'P') AS st, label FROM (
                VALUES ('F', 'finished'), ('O', 'open'), ('P', 'pending')
            ) AS v(s, label)
        )
        SELECT k.st, k.n, d.label
        FROM keyed k JOIN dim d ON k.st IS NOT DISTINCT FROM d.st
        ORDER BY k.st NULLS FIRST
    """,
    "agg_filter_clause": """
        SELECT o_orderstatus,
               CAST(count(*) FILTER (WHERE o_totalprice > 150000) AS BIGINT)
                   AS n_big,
               CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
                   AS n_urgent,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (WHERE year(o_orderdate) = 1997) AS DOUBLE)
                   AS rev_1997
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "agg_stats_exact": f"WITH moments AS ({_STATS_MOMENTS}) {_STATS_FINAL}",
    "window_ntile_distribution": """
        SELECT o_orderkey, o_orderstatus,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd
        FROM orders
        WHERE o_custkey < 500
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
    """,
    "window_first_last_nth": """
        SELECT o_orderkey, o_custkey,
               first_value(o_orderkey) OVER w AS first_ok,
               last_value(o_orderkey) OVER w AS last_ok,
               nth_value(o_orderkey, 3) OVER w AS third_ok
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    # NOTE: DuckDB's epoch(ts) is a fractional DOUBLE (microseconds kept);
    # Spark's unix_timestamp truncates to whole seconds. floor() both sides to
    # the same integer so the 1800 s boundary predicate is identical — without
    # it a true gap in (1800, 1801) s diverges between the engines.
    "gaps_islands_sessions": _GAPS_SQL.format(
        EPOCH="CAST(floor(epoch(ts)) AS BIGINT)"
    ),
    "pivot_native": """
        SELECT o_orderpriority,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS "F",
               CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS "O",
               CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS "P"
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "nested_struct_ops": """
        SELECT o_orderkey,
               o_orderstatus AS status_field,
               to_json(struct_pack(k := o_orderkey, s := o_orderstatus)) AS js
        FROM orders WHERE o_custkey < 200
    """,
    "source_freshness_age": """
        SELECT max(ts) AS max_loaded_at,
               CAST(epoch(TIMESTAMP '2025-01-01 00:00:00')
                    - epoch(max(ts)) AS BIGINT) AS age_s,
               CASE
                   WHEN epoch(TIMESTAMP '2025-01-01 00:00:00')
                        - epoch(max(ts)) > 86400 * 365 THEN 'error'
                   WHEN epoch(TIMESTAMP '2025-01-01 00:00:00')
                        - epoch(max(ts)) > 86400 * 30 THEN 'warn'
                   ELSE 'pass'
               END AS freshness_status
        FROM events
    """,
}

QUERIES = {
    "event_funnel": event_funnel,
    "retention_cohorts": retention_cohorts,
    "interval_arithmetic": interval_arithmetic,
    "scan_multi_format_sources": scan_multi_format_sources,
    "recursive_cte_date_spine": recursive_cte_date_spine,
    "lateral_topn_join": lateral_topn_join,
    "group_by_all_shorthand": group_by_all_shorthand,
    "set_ops_multiset": set_ops_multiset,
    "nullsafe_join_null_ordering": nullsafe_join_null_ordering,
    "agg_filter_clause": agg_filter_clause,
    "agg_stats_exact": agg_stats_exact,
    "window_ntile_distribution": window_ntile_distribution,
    "window_first_last_nth": window_first_last_nth,
    "gaps_islands_sessions": gaps_islands_sessions,
    "pivot_native": pivot_native,
    "nested_struct_ops": nested_struct_ops,
    "window_count_distinct": window_count_distinct,
    "map_column_ops": map_column_ops,
    "try_error_handling_ops": try_error_handling_ops,
    "grouping_id_rollup": grouping_id_rollup,
    "approx_percentile_bounded": approx_percentile_bounded,
    "source_freshness_age": source_freshness_age,
}
