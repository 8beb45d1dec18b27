"""Core relational plans — the reference's operator inventory (SURVEY.md
§2.1-§2.8, §2.11) re-expressed over the driver fixtures.

Every function takes ``(spark, sf_dir)`` and returns a DataFrame; the
matching DuckDB oracle SQL lives next to it. Cross-engine float parity
strategy: money-like sums go through DECIMAL (order-independent, exact,
identical in both engines) and are cast back to double; per-row double
arithmetic uses the same operation order on both sides; every limit
query has a total-order tiebreak.

Scale notes are inline: dims broadcast, aggregations are partial+final
(map-side combine) by construction, date filters reach the parquet scan
as pushed filters, and the lag/delta plan shuffles once on the window
key instead of self-joining (two scans) like the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_fixture_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_fixture_table(spark, sf_dir, name)


def _dec_sum(col, scale: int = 2, precision: int = 18):
    """Order-independent cross-engine-exact sum: cast to decimal, sum,
    cast back to double. Float sums differ across engines/partitionings
    in the last ulp; decimal sums do not."""
    return F.sum(col.cast(f"decimal({precision},{scale})")).cast("double")


# ---------------------------------------------------------------------------
# §2.2 projections / filters
# ---------------------------------------------------------------------------

def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-filter-eq (main.py:158,269) + op-project-rename
    (ingest_capacity.py:106-123) in one plan: equality filter on a date
    key pushed down to the parquet scan (PushedFilters), and a
    select+rename of a column subset so Catalyst prunes the rest at the
    scan (ReadSchema)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.to_date("l_shipdate") == F.lit("1998-06-15"))
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_linenumber").alias("line_no"),
            F.col("l_quantity").alias("quantity"),
            F.col("l_extendedprice").alias("price"),
            F.col("l_returnflag").alias("return_flag"),
        )
        .orderBy("order_id", "line_no")
    )


SQL_FILTER_PROJECT = """
SELECT l_orderkey AS order_id, l_linenumber AS line_no, l_quantity AS quantity,
       l_extendedprice AS price, l_returnflag AS return_flag
FROM lineitem
WHERE CAST(l_shipdate AS DATE) = DATE '1998-06-15'
ORDER BY order_id, line_no
"""


def q_validate_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-validate-row (ingest_capacity.py:23-59): first-match-wins
    chained-when reason column; returns the reject side-output."""
    from ..operators.validate import split_valid_invalid

    ev = _t(spark, sf_dir, "events")
    rules = [
        (F.col("event_type").isNull(), "event_type is required"),
        (F.col("user_id").isNull(), "user_id is required"),
        (F.col("value").isNull(), "value is required"),
        (F.col("value") < 0, "value cannot be negative"),
        (F.col("value") > 450, "value cannot exceed 450"),
    ]
    _, rejected = split_valid_invalid(ev, rules)
    return rejected.select("event_id", "event_type", "value", "_reject_reason")


SQL_VALIDATE_REJECTS = """
WITH tagged AS (
  SELECT event_id, event_type, value,
         CASE WHEN event_type IS NULL THEN 'event_type is required'
              WHEN user_id IS NULL THEN 'user_id is required'
              WHEN value IS NULL THEN 'value is required'
              WHEN value < 0 THEN 'value cannot be negative'
              WHEN value > 450 THEN 'value cannot exceed 450'
         END AS _reject_reason
  FROM events
)
SELECT * FROM tagged WHERE _reject_reason IS NOT NULL
"""


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------

def q_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-join-capacity-region / op-join-metrics-region (main.py:154-160,
    210-217): fact ⋈ small dims. Both dims broadcast — zero shuffle on
    the fact side; the aggregation is partial+final."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count("*").alias("customers"),
            _dec_sum(F.col("c_acctbal")).alias("total_acctbal"),
        )
        .orderBy("region_name")
    )


SQL_DIM_JOIN = """
SELECT r_name AS region_name, COUNT(*) AS customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


def q_dim_get_or_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-join-lookup-dim (ingest_capacity.py:62-71,158-163): the
    get-or-create probe as ONE left_anti join over distinct incoming
    names — replaces the reference's N sequential SQL probes. (UUID
    assignment is excluded here: nondeterministic exprs can't be
    hash-compared.)"""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    incoming = nation.select(F.col("n_name").alias("name")).distinct()
    existing = region.select(F.col("r_name").alias("name"))
    return incoming.join(F.broadcast(existing), "name", "left_anti").orderBy("name")


SQL_DIM_GET_OR_CREATE = """
SELECT DISTINCT n_name AS name
FROM nation
WHERE n_name NOT IN (SELECT r_name FROM region)
ORDER BY name
"""


def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-sink-upsert (ingest_capacity.py:178-193): last-writer-wins
    natural-key merge — 'existing' rows vs an 'incoming' batch with
    updated prices; incoming wins conflicts. Window dedup on the key is
    the portable MERGE INTO (SURVEY.md §2.1)."""
    from ..operators.upsert import upsert_last_writer_wins

    orders = _t(spark, sf_dir, "orders")
    existing = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey",
        F.col("o_totalprice").alias("total_price"),
        F.lit(0).alias("version"),
    )
    incoming = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 1000.0).alias("total_price"),
        F.lit(1).alias("version"),
    )
    return upsert_last_writer_wins(existing, incoming, ["o_orderkey"], "version")


SQL_UPSERT_MERGE = """
WITH existing AS (
  SELECT o_orderkey, o_totalprice AS total_price, 0 AS version
  FROM orders WHERE o_orderkey % 3 <> 0
), incoming AS (
  SELECT o_orderkey, o_totalprice + 1000.0 AS total_price, 1 AS version
  FROM orders WHERE o_orderkey % 2 = 0
), unioned AS (
  SELECT * FROM existing UNION ALL SELECT * FROM incoming
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, total_price, version FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# §2.4 aggregations / §2.6 sorts-limits
# ---------------------------------------------------------------------------

def q_scalar_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-aggregate family in one row, cross-joined from three tiny
    one-row aggregates (all partial+final aggs — no data-sized shuffle):

    - op-agg-max-date / op-agg-minmax-countd (main.py:148-152,298-310):
      min/max/count-distinct over the order dates in one pass.
    - op-argmax-date (main.py:357-366): best_date = most recent date
      with >= 5 orders, in-engine instead of client-side.
    - op-argmax-strain (dashboard.html:369-372): top customer by
      balance via ``max_by`` over a (measure, tiebreak) struct — a true
      argmax aggregate, no sort."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    d = F.to_date("o_orderdate")
    avail = orders.agg(
        F.min(d).alias("min_date"),
        F.max(d).alias("max_date"),
        F.countDistinct(d).alias("n_dates"),
    )
    best = (
        orders.groupBy(d.alias("best_date"))
        .agg(F.count("*").alias("best_rows"))
        .filter(F.col("best_rows") >= 5)
        .orderBy(F.desc("best_date"))
        .limit(1)
    )
    top = customer.agg(
        F.max_by(
            F.struct("c_custkey", "c_name", "c_acctbal"),
            F.struct(F.col("c_acctbal"), (-F.col("c_custkey")).alias("tb")),
        ).alias("t")
    ).select(
        F.col("t.c_custkey").alias("top_custkey"),
        F.col("t.c_name").alias("top_name"),
        F.col("t.c_acctbal").alias("top_acctbal"),
    )
    return avail.crossJoin(best).crossJoin(top)


SQL_SCALAR_SUMMARY = """
SELECT a.min_date, a.max_date, a.n_dates, b.best_date, b.best_rows,
       t.top_custkey, t.top_name, t.top_acctbal
FROM (SELECT MIN(CAST(o_orderdate AS DATE)) AS min_date,
             MAX(CAST(o_orderdate AS DATE)) AS max_date,
             COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS n_dates
      FROM orders) a,
     (SELECT CAST(o_orderdate AS DATE) AS best_date, COUNT(*) AS best_rows
      FROM orders GROUP BY 1 HAVING COUNT(*) >= 5
      ORDER BY best_date DESC LIMIT 1) b,
     (SELECT c_custkey AS top_custkey, c_name AS top_name,
             c_acctbal AS top_acctbal
      FROM customer ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 1) t
"""


def q_dates_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-distinct-sorted (main.py:319-328) + op-groupby-having
    (main.py:339-349): the full distinct date list sorted ascending,
    left-joined with the HAVING-filtered per-date counts (rows is NULL
    for dates below the threshold). Both sides are aggregates of the
    same scan grouped on the same key, so AQE plans one shuffle."""
    orders = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    dates = orders.select(d.alias("order_date")).distinct()
    cov = (
        orders.groupBy(d.alias("order_date"))
        .agg(F.count("*").alias("rows"))
        .filter(F.col("rows") >= 5)
    )
    return dates.join(cov, "order_date", "left").orderBy("order_date")


SQL_DATES_COVERAGE = """
WITH dates AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date FROM orders),
     cov AS (SELECT CAST(o_orderdate AS DATE) AS order_date, COUNT(*) AS rows
             FROM orders GROUP BY 1 HAVING COUNT(*) >= 5)
SELECT dates.order_date, cov.rows
FROM dates LEFT JOIN cov USING (order_date)
ORDER BY dates.order_date
"""


def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-sort-limit (main.py:113): newest 20 by timestamp —
    TakeOrderedAndProject, no full sort. Total order via event_id
    tiebreak."""
    return (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_iso"),
            "event_type",
            "value",
        )
        .orderBy(F.desc("ts_iso"), F.asc("event_id"))
        .limit(20)
    )


SQL_SORT_LIMIT = """
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_iso, event_type, value
FROM events ORDER BY ts_iso DESC, event_id ASC LIMIT 20
"""


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-topk / op-sort-desc (dashboard.html:369-372): top-k by measure
    with a deterministic tiebreak."""
    return (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(10)
    )


SQL_TOPK = """
SELECT c_custkey, c_name, c_acctbal FROM customer
ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 10
"""


def q_event_type_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type metrics panel — four §2.4 op-IDs in one keyed
    result:

    - op-agg-avg (dashboard.html:373): mean as decimal-sum / count so
      both engines agree bit-for-bit.
    - op-agg-count-filtered (dashboard.html:374): conditional count of
      crisis rows.
    - skew-salted two-phase agg (SCALE.md): count/sum routed through a
      16-way salt so no single reducer sees a whole hot key; the salt
      folds out in a second tiny agg (decimal partials commute, so the
      result is identical to the plain groupBy the oracle runs).
    - exact percentiles (linear interpolation, same definition as
      DuckDB quantile_cont; at very large scale swap approx_percentile).

    The salted branch keeps its own two-phase plan; the direct branch is
    one partial+final agg; the final equi-join is on the tiny
    5-row-per-side key set."""
    ev = _t(spark, sf_dir, "events")
    salted_partial = ev.groupBy(
        "event_type",
        F.pmod(F.hash("event_id"), F.lit(16)).alias("_salt"),
    ).agg(
        F.count("*").alias("_n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("_sum"),
    )
    salted = salted_partial.groupBy("event_type").agg(
        F.sum("_n").alias("n"),
        F.sum("_sum").cast("double").alias("sum_value"),
    )
    direct = ev.groupBy("event_type").agg(
        (_dec_sum(F.col("value")) / F.count("value")).alias("avg_value"),
        F.count(F.when(F.col("value") > 400, 1)).alias("crisis_count"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )
    # NULL-SAFE join key: GROUP BY keeps a NULL event_type group on
    # both branches (and in the SQL oracle) — a plain equi-join would
    # silently drop it.
    return (
        salted.alias("s")
        .join(
            direct.alias("d"),
            F.col("s.event_type").eqNullSafe(F.col("d.event_type")),
        )
        .select(
            F.col("s.event_type").alias("event_type"),
            "n", "sum_value", "avg_value", "crisis_count", "p50", "p90", "p99",
        )
        .orderBy("event_type")
    )


def q_event_percentiles_approx(
    spark: SparkSession, sf_dir: str, accuracy: int = 10000
) -> DataFrame:
    """The 100 TB percentile path: ``approx_percentile`` (Greenwald-
    Khanna sketch) instead of the exact interpolated percentile that
    ``event_type_metrics`` uses for oracle comparison. Exact percentile
    materializes and sorts every group's values (memory ∝ group size);
    the sketch is fixed-size and MERGEABLE, so it composes with partial
    aggregation — per-partition sketches combine map-side and only
    sketches shuffle. Rank error ≤ 1/accuracy of the group size; not in
    the oracle catalog (sketch internals differ across engines), pinned
    instead by a rank-error test."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr(f"approx_percentile(value, 0.5, {accuracy})").alias("p50"),
            F.expr(f"approx_percentile(value, 0.9, {accuracy})").alias("p90"),
            F.expr(f"approx_percentile(value, 0.99, {accuracy})").alias("p99"),
        )
        .orderBy("event_type")
    )


def q_event_cardinality_approx(
    spark: SparkSession, sf_dir: str, rsd: float = 0.023
) -> DataFrame:
    """The 100 TB distinct-count path: ``approx_count_distinct``
    (HyperLogLog++) beside the exact count. Exact COUNT(DISTINCT x)
    shuffles every distinct value to its group's reducer (memory and
    network ∝ cardinality); the HLL sketch is fixed-size (~1.5 KB at
    the default 2.3% rsd) and MERGEABLE, so per-partition sketches
    combine map-side and only sketches shuffle — the same partial-agg
    composition as the percentile sketch. Not in the oracle catalog
    (sketch estimates differ across engines); pinned by the
    relative-error test instead."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd).alias("approx_users"),
        )
        .orderBy("event_type")
    )


def q_approx_percentiles_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-graded contract for the 100 TB percentile path (rotated
    IN round 12): run ``q_event_percentiles_approx``'s Greenwald-
    Khanna sketch (accuracy 10 000, mergeable partial-agg plan —
    pinned by test_approx_percentiles_rank_error_bounded), then verify
    each group's approximate p50/p90/p99 lands inside its rank band by
    RE-RANKING the returned values against the raw events. The output
    is (event_type, n, p50_in_band, p90_in_band, p99_in_band) with the
    bands as 0/1 longs — the DuckDB oracle computes the exact group
    counts and expects every band flag to be 1, so a sketch that ever
    violated its rank bound hash-mismatches in the driver gate instead
    of needing a human to read a pytest log. Sketch INTERNALS stay
    engine-specific (the reason this family had no oracle through
    round 11); the error-bound CONTRACT is engine-independent and
    therefore gradable. Bands are generous vs the 1e-4 sketch bound
    (±0.05 / ±0.05 / [0.97, 1]) to absorb tied values at the cut."""
    approx = q_event_percentiles_approx(spark, sf_dir)
    ev = _t(spark, sf_dir, "events")

    def band(p_col: str, lo: float, hi: float):
        frac = F.count(
            F.when(F.col("value") <= F.col(p_col), 1)
        ) / F.count("value")
        return (
            F.when(frac.between(lo, hi), 1).otherwise(0).cast("long")
        )

    return (
        ev.join(F.broadcast(approx), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            band("p50", 0.45, 0.55).alias("p50_in_band"),
            band("p90", 0.85, 0.95).alias("p90_in_band"),
            band("p99", 0.97, 1.0).alias("p99_in_band"),
        )
        .orderBy("event_type")
    )


SQL_APPROX_PERCENTILES_CHECK = """
SELECT event_type, COUNT(*) AS n,
       CAST(1 AS BIGINT) AS p50_in_band,
       CAST(1 AS BIGINT) AS p90_in_band,
       CAST(1 AS BIGINT) AS p99_in_band
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_approx_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-graded contract for the 100 TB distinct-count path
    (rotated IN round 12): ``q_event_cardinality_approx``'s HLL++
    sketch (rsd 0.023, mergeable partial-agg plan — pinned by
    test_event_cardinality_sketch_error_bound_and_partial_agg) beside
    the exact per-group count, reduced to (event_type, exact_users,
    approx_ok) where approx_ok = 1 iff the estimate is within 3·rsd
    relative error. ``exact_users`` is a REAL oracle value (DuckDB
    COUNT(DISTINCT)); the flag turns the sketch's error contract into
    a hash-graded row, same scheme as the percentile check."""
    rsd = 0.023
    df = q_event_cardinality_approx(spark, sf_dir, rsd=rsd)
    rel_err = F.abs(F.col("approx_users") - F.col("exact_users")) / F.col(
        "exact_users"
    )
    return df.select(
        "event_type",
        "exact_users",
        F.when(rel_err <= 3 * rsd, 1).otherwise(0).cast("long").alias(
            "approx_ok"
        ),
    ).orderBy("event_type")


SQL_APPROX_DISTINCT_CHECK = """
SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
       CAST(1 AS BIGINT) AS approx_ok
FROM events GROUP BY event_type ORDER BY event_type
"""


SQL_EVENT_TYPE_METRICS = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_value,
       COUNT(CASE WHEN value > 400 THEN 1 END) AS crisis_count,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.9), 4) AS p90,
       ROUND(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# §2.5 window: calendar-day lag / delta (the flagship compare query)
# ---------------------------------------------------------------------------

def q_window_lag_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-window-lag / op-join-asof-prev (main.py:249-284) + running
    total (§2.5 extension) over ONE daily rollup:

    - day-over-day delta with previous-*calendar*-day semantics — a gap
      date yields NULL, where a plain lag would wrongly bridge it. One
      lag window over the pre-aggregated rollup replaces the
      reference's self-join: the fact table is scanned once, the window
      shuffles only the rollup.
    - cumulative revenue per priority (unbounded-preceding frame). The
      running sum stays DECIMAL until the final cast, so it is exact
      and independent of accumulation order.

    Both windows share the same (priority ORDER BY order_date)
    partitioning, so Spark plans them over a single exchange."""
    from ..operators.asof import calendar_day_delta

    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("order_date"),
    ).agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_day_rev"),
    )
    w_run = (
        Window.partitionBy("priority")
        .orderBy("order_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        calendar_day_delta(
            daily, ["priority"], "order_date", "cnt",
            delta_col="delta", prev_col="prev_cnt",
        )
        .select(
            "priority",
            "order_date",
            "cnt",
            "prev_cnt",
            "delta",
            F.col("_day_rev").cast("double").alias("day_revenue"),
            F.sum("_day_rev").over(w_run).cast("double").alias("cum_revenue"),
        )
        .orderBy("priority", "order_date")
    )


SQL_WINDOW_LAG_RUNNING = """
WITH daily AS (
  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS order_date,
         COUNT(*) AS cnt,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS day_rev
  FROM orders GROUP BY 1, 2
), lagged AS (
  SELECT priority, order_date, cnt, day_rev,
         LAG(order_date) OVER (PARTITION BY priority ORDER BY order_date) AS pd,
         LAG(cnt) OVER (PARTITION BY priority ORDER BY order_date) AS pc,
         SUM(day_rev) OVER (
           PARTITION BY priority ORDER BY order_date
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
  FROM daily
)
SELECT priority, order_date, cnt,
       CASE WHEN pd + 1 = order_date THEN pc END AS prev_cnt,
       CASE WHEN pd + 1 = order_date THEN cnt - pc END AS delta,
       CAST(day_rev AS DOUBLE) AS day_revenue,
       CAST(cum_rev AS DOUBLE) AS cum_revenue
FROM lagged ORDER BY priority, order_date
"""


# ---------------------------------------------------------------------------
# §2.8 scalar functions
# ---------------------------------------------------------------------------

def q_strain_formula(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-fn-strain + op-fn-div-guard + op-fn-coalesce + op-fn-clamp +
    op-fn-round + op-fn-case-bucket (compute_metrics.py:11-21,56-61;
    dashboard.html:328-338) over a fixture analog: quantity/50 plays
    bed occupancy, discount*10 (only when linenumber > 1) plays ICU —
    exercising the NULL-fallback path."""
    from ..functions.metrics import case_bucket, strain_index

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1998-06-01"))
        & (F.to_date("l_shipdate") < F.lit("1998-07-01"))
    )
    bed = F.col("l_quantity") / F.lit(50.0)
    icu = F.when(F.col("l_linenumber") > 1, F.col("l_discount") * 10.0)
    strain = strain_index(bed, icu)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(bed, 4).alias("bed_pct"),
        F.round(icu, 4).alias("icu_pct"),
        strain.alias("strain"),
        case_bucket(strain).alias("status"),
    ).orderBy("l_orderkey", "l_linenumber")


SQL_STRAIN_FORMULA = """
WITH base AS (
  SELECT l_orderkey, l_linenumber,
         l_quantity / 50.0 AS bed,
         CASE WHEN l_linenumber > 1 THEN l_discount * 10.0 END AS icu
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '1998-06-01'
    AND CAST(l_shipdate AS DATE) < DATE '1998-07-01'
), scored AS (
  SELECT l_orderkey, l_linenumber, bed, icu,
         ROUND(LEAST(100.0, GREATEST(0.0,
             0.4 * (bed * 100.0) + 0.6 * COALESCE(icu * 100.0, bed * 100.0))), 2)
           AS strain
  FROM base
)
SELECT l_orderkey, l_linenumber,
       ROUND(bed, 4) AS bed_pct, ROUND(icu, 4) AS icu_pct, strain,
       CASE WHEN strain > 80 THEN 'CRISIS'
            WHEN strain >= 70 THEN 'ELEVATED'
            ELSE 'STABLE' END AS status
FROM scored ORDER BY l_orderkey, l_linenumber
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction over the events props column (beyond the
    reference surface — it has no JSON functions; a training-data
    pipeline needs them). get_json_object is JVM-side, no UDF."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select(k.alias("k"), F.col("value"))
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(F.count("*").alias("n"), _dec_sum(F.col("value")).alias("sum_value"))
        .orderBy("k_bucket")
    )


SQL_JSON_EXTRACT = """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1 ORDER BY k_bucket
"""


def q_date_format_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-fn-dateformat + op-fn-datesub family (main.py:119-120,183):
    ISO month formatting driving a monthly rollup."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            _dec_sum(F.col("o_totalprice")).alias("revenue"),
        )
        .orderBy("month")
    )


SQL_DATE_FORMAT_ROLLUP = """
SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders GROUP BY 1 ORDER BY month
"""


# ---------------------------------------------------------------------------
# TPC-H-style headline aggregations (bench workhorses)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide scan + partial/final agg per tiny group set.
    All sums decimal-exact; products computed per-row in double (same
    order both engines) then cast."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") <= F.lit("1998-09-02")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity")).alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dec_sum(disc_price, scale=4).alias("sum_disc_price"),
            _dec_sum(charge, scale=6, precision=24).alias("sum_charge"),
            (_dec_sum(F.col("l_quantity")) / F.count("*")).alias("avg_qty"),
            (_dec_sum(F.col("l_extendedprice")) / F.count("*")).alias("avg_price"),
            (_dec_sum(F.col("l_discount"), scale=2) / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two joins → agg → top-k.
    customer is the small side (broadcast); lineitem⋈orders shuffles on
    the order key; top-k is TakeOrderedAndProject (no global sort)."""
    cutoff = "1998-01-01"
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.to_date("o_orderdate") < F.lit(cutoff))
    li = _t(spark, sf_dir, "lineitem").filter(F.to_date("l_shipdate") > F.lit(cutoff))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "l_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            "o_orderpriority",
        )
        .agg(_dec_sum(revenue, scale=4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


SQL_TOP_UNSHIPPED = """
SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_orderpriority,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
  AND CAST(l_shipdate AS DATE) > DATE '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# §2.5 op-window-trend + §2.7 set ops + grouping-set rollup + §2.8 variants
# ---------------------------------------------------------------------------

def q_rolling_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-window-trend (dashboard.html:288-290,506-520 — the reference
    fakes this with hard-coded TREND_VALUES; here it's real): 7-day
    trailing average over the daily order count, calendar-correct via a
    RANGE window on day numbers (a gap day shrinks the frame, unlike a
    rowsBetween window).

    Scale: the window runs over the pre-aggregated daily rollup (one row
    per date), not the fact table — the heavy input is reduced by a
    partial+final agg first, so the unpartitioned window is a few
    thousand rows regardless of fact size."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("order_date")).agg(
        F.count("*").alias("cnt")
    )
    day_num = F.datediff("order_date", F.lit("1970-01-01"))
    w = Window.orderBy(day_num).rangeBetween(-6, 0)
    return daily.select(
        "order_date",
        "cnt",
        (
            F.sum(F.col("cnt").cast("decimal(18,2)")).over(w).cast("double")
            / F.count("*").over(w)
        ).alias("avg7"),
    ).orderBy("order_date")


SQL_ROLLING_TREND = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS order_date, COUNT(*) AS cnt
  FROM orders GROUP BY 1
)
SELECT order_date, cnt,
       CAST(SUM(CAST(cnt AS DECIMAL(18,2))) OVER w AS DOUBLE)
         / COUNT(*) OVER w AS avg7
FROM daily
WINDOW w AS (ORDER BY order_date
             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
ORDER BY order_date
"""


def q_div_guard_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-fn-div-guard, BOTH reference variants side by side: the API
    yields NULL on a non-positive denominator (main.py:164), the metrics
    ETL yields 0.0 (compute_metrics.py:56). p_size % 7 plays the
    sometimes-zero denominator."""
    from ..functions.metrics import bed_occ_pct_api, bed_occ_pct_etl

    p = _t(spark, sf_dir, "part")
    den = (F.col("p_size") % 7).cast("double")
    num = F.col("p_retailprice")
    return p.select(
        "p_partkey",
        F.round(bed_occ_pct_api(num, den), 4).alias("ratio_api"),
        F.round(bed_occ_pct_etl(num, den), 4).alias("ratio_etl"),
    ).orderBy("p_partkey")


SQL_DIV_GUARD_VARIANTS = """
SELECT p_partkey,
       ROUND(CASE WHEN p_size % 7 > 0 THEN p_retailprice / (p_size % 7) END, 4)
         AS ratio_api,
       ROUND(COALESCE(CASE WHEN p_size % 7 > 0 THEN p_retailprice / (p_size % 7) END,
                      0.0), 4) AS ratio_etl
FROM part ORDER BY p_partkey
"""


def q_set_membership_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 set operations + semi/anti joins (beyond the reference
    surface, which has none), reported as one count per operation:

    - UNION ALL / UNION DISTINCT / INTERSECT / EXCEPT over two
      customer-key sets.
    - left-semi / left-anti joins (EXISTS / NOT EXISTS): customers with
      vs without any urgent order. Semi/anti never materialize the
      right payload — the build side carries only the key, so at scale
      this is the cheapest existence check (no row multiplication)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = o.filter(F.col("o_totalprice") > 250000).select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )

    def one(op_name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(
            F.lit(op_name).alias("op"), "n"
        )

    return (
        one("union_all", a.unionAll(b))
        .unionByName(one("union_distinct", a.union(b).distinct()))
        .unionByName(one("intersect", a.intersect(b)))
        .unionByName(one("except", a.subtract(b)))
        .unionByName(one("semi_has_urgent", c.join(urgent, "c_custkey", "left_semi")))
        .unionByName(one("anti_no_urgent", c.join(urgent, "c_custkey", "left_anti")))
        .orderBy("op")
    )


SQL_SET_MEMBERSHIP_OPS = """
WITH a AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     b AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
           WHERE o_totalprice > 250000)
SELECT 'union_all' AS op, COUNT(*) AS n FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
UNION ALL
SELECT 'union_distinct', COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b)
UNION ALL
SELECT 'intersect', COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
UNION ALL
SELECT 'except', COUNT(*) FROM (SELECT DISTINCT c_custkey FROM a
                                EXCEPT SELECT c_custkey FROM b)
UNION ALL
SELECT 'semi_has_urgent', COUNT(*) FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
UNION ALL
SELECT 'anti_no_urgent', COUNT(*) FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
ORDER BY op
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic as-of join (custom operator — Spark has no native ASOF):
    each event picks up the user's most recent order at-or-before the
    event time. Union + single window pass, not a range join — linear
    in rows, one shuffle on the key (operators.asof.asof_join)."""
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    ord_daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.to_date("o_orderdate").alias("order_date"),
        )
        .agg(F.max("o_totalprice").alias("order_price"))
    )
    right = ord_daily.select(
        "user_id",
        F.col("order_date").cast("timestamp").alias("order_ts"),
        "order_date",
        "order_price",
    )
    out = asof_join(
        ev,
        right,
        by=["user_id"],
        left_time="ts",
        right_time="order_ts",
        value_cols=["order_date", "order_price"],
    )
    return out.select(
        "event_id", "user_id", "asof_order_date", "asof_order_price"
    ).orderBy("event_id")


SQL_ASOF_JOIN = """
WITH ord AS (
  SELECT o_custkey AS user_id,
         CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS order_ts,
         CAST(o_orderdate AS DATE) AS order_date,
         MAX(o_totalprice) AS order_price
  FROM orders GROUP BY 1, 2, 3
)
SELECT e.event_id, e.user_id,
       o.order_date AS asof_order_date, o.order_price AS asof_order_price
FROM events e ASOF LEFT JOIN ord o
  ON e.user_id = o.user_id AND e.ts >= o.order_ts
ORDER BY e.event_id
"""


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts as a priority × status matrix. Spark's
    ``pivot`` with an explicit value list compiles to conditional
    aggregation (one pass, partial+final) — same as the SQL FILTER
    form, so no extra shuffle versus a plain groupBy."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed({"F": "n_f", "O": "n_o", "P": "n_p"})
        .orderBy("priority")
    )


SQL_PIVOT_STATUS = """
SELECT o_orderpriority AS priority,
       COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
       COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
       COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
FROM orders GROUP BY 1 ORDER BY priority
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a session breaks after a 30-minute gap per
    user. lag → gap flag → running sum = session id (two window passes
    over one shuffle on user_id), then per-session stats. The canonical
    composition for clickstream/training-log data at scale: no
    self-join, state bounded by the window frame."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("session_id"),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
                "duration_s"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.max("duration_s").alias("max_session_duration_s"),
        )
        .orderBy("user_id")
    )


# Exact integer epoch-seconds for every ts-arithmetic oracle. DuckDB's
# epoch() returns DOUBLE (~2.4e-7 s ulp at epoch ~1.7e9), so
# floor(epoch(ts)) is only ulp-safe for microsecond-aligned pre-2112
# fixtures; epoch_us is exact BIGINT microseconds. DuckDB's // truncates
# toward zero while Spark's CAST(ts AS LONG) is floorDiv, so the CASE
# makes the floor semantics explicit (pre-1970 fractional seconds would
# otherwise be off by one).
TSEC_EXPR = (
    "(epoch_us({c}) // 1000000"
    " - CASE WHEN epoch_us({c}) % 1000000 < 0 THEN 1 ELSE 0 END)"
)


SQL_SESSIONIZE = f"""
WITH base AS (
  -- floored epoch seconds = Spark's CAST(timestamp AS LONG)
  SELECT user_id, event_id, {TSEC_EXPR.format(c="ts")} AS tsec, ts
  FROM events
), gaps AS (
  SELECT user_id, ts, event_id, tsec,
         CASE WHEN tsec - LAG(tsec) OVER w > 1800
                OR LAG(tsec) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, tsec,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
), per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         MAX(tsec) - MIN(tsec) AS duration_s
  FROM sess GROUP BY 1, 2
)
SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_session_events,
       MAX(duration_s) AS max_session_duration_s
FROM per_session GROUP BY user_id ORDER BY user_id
"""


def q_redact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction: mask a sensitive token class (here the
    entity word ``customer``, which actually occurs in the fixture
    corpus — digit-run patterns are vacuous on this word-salad data)
    via regexp_replace (JVM-side, scan-stage). Counts how many
    documents changed and total masked spans — the audit shape a
    redaction job reports at scale. Sums are BIGINT on both engines
    (DuckDB would otherwise widen to HUGEINT and hash-mismatch)."""
    docs = _t(spark, sf_dir, "documents")
    pat = r"\bcustomer\b"
    masked = F.regexp_replace(F.col("text"), pat, "<REDACTED>")
    n_spans = F.regexp_count(F.col("text"), F.lit(pat))
    return (
        docs.select(
            (masked != F.col("text")).alias("changed"),
            n_spans.alias("n_spans"),
        )
        .agg(
            F.count(F.when(F.col("changed"), 1)).alias("docs_changed"),
            F.sum("n_spans").cast("long").alias("spans_masked"),
        )
    )


SQL_REDACT_TEXT = r"""
SELECT COUNT(CASE WHEN regexp_replace(text, '\bcustomer\b', '<REDACTED>', 'g') <> text
                  THEN 1 END) AS docs_changed,
       CAST(SUM(len(regexp_extract_all(text, '\bcustomer\b'))) AS BIGINT) AS spans_masked
FROM documents
"""


# ---------------------------------------------------------------------------
# Beyond-reference relational coverage: CUBE, binned range join, running total
# ---------------------------------------------------------------------------

def q_grouping_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole grouping-set family — ROLLUP, CUBE, and explicit
    GROUPING SETS grains — as ONE pass over the fact (§2.4 extension;
    the reference has plain GROUP BY only). The set list is the distinct
    union of CUBE(status, priority) = {(s,p),(s),(p),()}, ROLLUP
    (priority, status) ⊆ that, plus the chosen (month) dashboard grain.

    Scale: plans as a single Expand (len(sets) = 5 copies of each row)
    feeding partial+final HashAggregates — the shuffle carries
    |distinct groups| x 5, not |input| x 5, because partial aggregation
    collapses map-side. Rolled-up cells are labeled 'ALL' (all three
    key columns verified NULL-free, so COALESCE is unambiguous)."""
    orders = _t(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")
    return (
        orders.select("o_orderstatus", "o_orderpriority", month, "o_totalprice")
        .groupingSets(
            [
                ["o_orderstatus", "o_orderpriority"],
                ["o_orderstatus"],
                ["o_orderpriority"],
                ["month"],
                [],
            ],
            "o_orderstatus",
            "o_orderpriority",
            "month",
        )
        .agg(
            F.count("*").alias("n_orders"),
            _dec_sum(F.col("o_totalprice")).alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("month", F.lit("ALL")).alias("month"),
            "n_orders",
            "revenue",
        )
        .orderBy("status", "priority", "month")
    )


SQL_GROUPING_MULTI = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(strftime(o_orderdate, '%Y-%m'), 'ALL') AS month,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus),
                        (o_orderpriority), (strftime(o_orderdate, '%Y-%m')), ())
ORDER BY status, priority, month
"""


_RANGE_JOIN_WINDOW_S = 86400


def q_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join, binned: views within the 1-day (86 400 s)
    window before each purchase by the same user (attribution shape).

    Spark has no native inequality-join strategy that scales — a raw
    `ON user AND v_ts BETWEEN p_ts - 300 AND p_ts` plans as a
    broadcast-nested-loop or cartesian refinement. The scalable pattern
    (used by every range-join implementation, cf. Databricks' range-join
    binning) is: quantize time into fixed bins of the window width,
    explode the interval side into the <=2 bins its window overlaps,
    equi-join on (user, bin) — a plain shuffled hash join — then refine
    with the exact predicate. Work is proportional to true matches per
    bin, never |A| x |B|. Second-floored epoch on BOTH engines (DuckDB
    epoch() keeps fractional seconds; Spark's long cast floors)."""
    ev = _t(spark, sf_dir, "events")
    w = _RANGE_JOIN_WINDOW_S
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").cast("long").alias("p_sec"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").cast("long").alias("v_sec"),
    )
    # the [p_sec - w, p_sec] window spans at most 2 w-wide bins
    pb = purchases.withColumn(
        "bin",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor((F.col("p_sec") - w) / w),
                    F.floor(F.col("p_sec") / w),
                )
            )
        ),
    )
    vb = views.withColumn("bin", F.floor(F.col("v_sec") / w))
    return (
        pb.join(vb, ["user_id", "bin"])
        .filter(
            (F.col("v_sec") >= F.col("p_sec") - w) & (F.col("v_sec") <= F.col("p_sec"))
        )
        .groupBy("purchase_id")
        .agg(F.count("*").alias("n_views"))
        .orderBy("purchase_id")
    )


SQL_RANGE_JOIN_BINNED = f"""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, {TSEC_EXPR.format(c="ts")} AS p_sec
  FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT event_id AS view_id, user_id, {TSEC_EXPR.format(c="ts")} AS v_sec
  FROM events WHERE event_type = 'view'
)
SELECT p.purchase_id, COUNT(*) AS n_views
FROM p JOIN v ON p.user_id = v.user_id
  AND v.v_sec >= p.p_sec - 86400 AND v.v_sec <= p.p_sec
GROUP BY p.purchase_id
ORDER BY p.purchase_id
"""


def q_rank_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window family (rank / dense_rank / ntile) in one pass:
    top-3 orders per priority by price, with a global price quartile.

    Determinism: every window ordering carries the unique o_orderkey
    tiebreak, so rank and ntile are total-order stable across engines
    and partitionings. Scale: the per-priority rank shuffles once on
    priority; the global ntile is computed AFTER the top-3 filter
    (<= 3 x |priorities| rows), so the single-partition global window
    never sees the full fact table."""
    orders = _t(spark, sf_dir, "orders")
    w_rank = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    top3 = (
        orders.select(
            F.col("o_orderpriority").alias("priority"),
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w_rank).alias("price_rank"),
            F.dense_rank().over(w_rank).alias("price_dense_rank"),
        )
        .filter(F.col("price_rank") <= 3)
    )
    w_global = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return top3.select(
        "priority",
        "o_orderkey",
        "o_totalprice",
        "price_rank",
        "price_dense_rank",
        F.ntile(4).over(w_global).alias("global_quartile"),
    ).orderBy("priority", "price_rank", "o_orderkey")


SQL_RANK_TOPN_PER_GROUP = """
WITH ranked AS (
  SELECT o_orderpriority AS priority, o_orderkey, o_totalprice,
         RANK() OVER (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS price_rank,
         DENSE_RANK() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS price_dense_rank
  FROM orders
), top3 AS (
  SELECT * FROM ranked WHERE price_rank <= 3
)
SELECT priority, o_orderkey, o_totalprice, price_rank, price_dense_rank,
       NTILE(4) OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS global_quartile
FROM top3
ORDER BY priority, price_rank, o_orderkey
"""


# ---------------------------------------------------------------------------
# time-series gap fill / resample (beyond the reference)
# ---------------------------------------------------------------------------

def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + forward fill: per-user daily event rollup,
    densified onto a per-user calendar spine (``sequence`` + explode), a
    missing day contributes cnt=0 and carries the last observed daily
    value forward (``last(..., ignorenulls=True)``).

    The reference has no gap handling at all — its compare endpoint just
    yields NULL deltas on gap days (main.py:264-268); this is the general
    densification operator a training pipeline needs for calendar joins.

    Scale: the spine explodes to O(users × span_days) rows — tiny next to
    the event fact, and generated AFTER the partial+final daily rollup
    reduces the fact. One shuffle on user_id serves the rollup, the
    spine join, and the forward-fill window (same key, Catalyst reuses
    the partitioning)."""
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.count("*").alias("cnt"),
        _dec_sum(F.col("value"), 2).alias("day_value"),
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            F.last("day_value", ignorenulls=True).over(w).alias("carried_value"),
        )
        .orderBy("user_id", "day")
    )


SQL_GAP_FILL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT user_id,
         CAST(UNNEST(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY)) AS DATE) AS day
  FROM daily GROUP BY user_id
)
SELECT s.user_id, s.day,
       COALESCE(d.cnt, 0) AS cnt,
       LAST_VALUE(d.day_value IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.day) AS carried_value
FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
ORDER BY s.user_id, s.day
"""


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders priced above their priority
    group's average), decorrelated the way Catalyst would: one tiny
    grouped aggregate broadcast-joined back to the fact — the fact
    side never shuffles.

    Averages go through a decimal sum / count division so both engines
    produce the identical double."""
    orders = _t(spark, sf_dir, "orders")
    prio_avg = orders.groupBy("o_orderpriority").agg(
        (_dec_sum(F.col("o_totalprice"), 2) / F.count("*")).alias("prio_avg")
    )
    return (
        orders.join(F.broadcast(prio_avg), "o_orderpriority")
        .filter(F.col("o_totalprice") > F.col("prio_avg"))
        .select(
            "o_orderkey",
            F.col("o_orderpriority").alias("priority"),
            "o_totalprice",
            F.round("prio_avg", 2).alias("prio_avg"),
        )
        .orderBy("o_orderkey")
    )


SQL_SCALAR_SUBQUERY = """
WITH pa AS (
  SELECT o_orderpriority,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
           AS prio_avg
  FROM orders GROUP BY 1
)
SELECT o.o_orderkey, o.o_orderpriority AS priority, o.o_totalprice,
       ROUND(pa.prio_avg, 2) AS prio_avg
FROM orders o JOIN pa USING (o_orderpriority)
WHERE o.o_totalprice > pa.prio_avg
ORDER BY o_orderkey
"""


def q_window_value_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The value-window family (first_value / nth_value / lead /
    percent_rank / cume_dist) in one pass: per-priority order history
    ordered by (date, key) with a total-order tiebreak so every
    function is deterministic cross-engine.

    Scale: one shuffle on the partition key; all five functions share a
    single sort within the window — Spark evaluates them in one
    WindowExec over the same frame."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderdate", "o_orderkey")
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        orders.select(
            F.col("o_orderpriority").alias("priority"),
            "o_orderkey",
            "o_orderdate",
            F.first("o_totalprice").over(w_all).alias("first_price"),
            F.nth_value("o_totalprice", 3).over(w_all).alias("third_price"),
            F.lead("o_orderkey", 1).over(w).alias("next_orderkey"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .orderBy("priority", "o_orderdate", "o_orderkey")
    )


SQL_WINDOW_VALUE_FAMILY = """
SELECT o_orderpriority AS priority, o_orderkey, o_orderdate,
       FIRST_VALUE(o_totalprice) OVER w_all AS first_price,
       NTH_VALUE(o_totalprice, 3) OVER w_all AS third_price,
       LEAD(o_orderkey, 1) OVER w AS next_orderkey,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cume
FROM orders
WINDOW
  w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey),
  w_all AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY priority, o_orderdate, o_orderkey
"""


