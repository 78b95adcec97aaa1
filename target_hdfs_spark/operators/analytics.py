"""Closed-form statistical analytics (SURVEY.md §2B.1 extensions to
E9/E14/E19): grouped OLS regression, fixed-width histograms, and
ordered-funnel analysis.

These are the profiling/feature-engineering primitives a training-data
pipeline runs alongside curation — "does doc length predict quality
score", "what does the price distribution look like", "how do users
move through a conversion funnel". All three are expressed as
declarative aggregations (no UDFs, no iteration), so Catalyst applies
partial aggregation and the shuffles carry only group-level sums.

Determinism: moment sums (Sx, Sy, Sxy, Sxx, Syy) are exact DECIMAL
aggregates converted to double through a string (functions/decimals.py
rationale); the closed-form slope/intercept/r² arithmetic is then a
fixed tree of IEEE double ops — identical operand order on the Spark
and DuckDB sides, hence bit-identical results.

Reference parity: the reference (Automattic/target-hdfs, 274 core
lines) has no analytics surface; this module is part of the mandated
query extension (SURVEY.md §2B).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from target_hdfs_spark.functions.decimals import dec, to_double
from target_hdfs_spark.operators.prefix import banded_cumsum
from target_hdfs_spark.registry import query
from target_hdfs_spark.sources.readers import load_table

# ---------------------------------------------------------------------------
# Grouped OLS regression (closed form over exact moment sums)
# ---------------------------------------------------------------------------


@query(
    "q136_group_ols_regression",
    oracle="""
    WITH s AS (
      SELECT
        l_returnflag,
        COUNT(*) AS n,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sx,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sy,
        -- DECIMAL(19,4) forces DuckDB's int128 representation for the
        -- products (int64-backed DECIMAL(<=18) overflows on price^2);
        -- values and scales match Spark's DECIMAL(12,4) products exactly.
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                    * CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sxy,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                    * CAST(l_quantity AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sxx,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                    * CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS syy
      FROM lineitem
      GROUP BY l_returnflag
    ), m AS (
      SELECT
        l_returnflag, n, sx, sy, sxy, sxx, syy,
        (CAST(n AS DOUBLE) * sxy - sx * sy)
          / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope
      FROM s
    )
    SELECT
      l_returnflag,
      n,
      slope,
      (sy - slope * sx) / CAST(n AS DOUBLE) AS intercept,
      ((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy))
        / ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) AS r2
    FROM m
    ORDER BY l_returnflag
    """,
    tags=("agg", "statistics"),
)
def q136_group_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit of extendedprice on
    quantity: slope, intercept, and r² from the closed-form normal
    equations over five moment sums.

    Scale: one hash aggregation — the shuffle carries 5 decimal sums +
    a count per group regardless of input size (map-side partials).
    This is THE distributed pattern for grouped regression: no
    per-group data movement, no iteration; 100 TB of fact rows reduce
    to |groups| × 6 numbers. The closed-form arithmetic happens on the
    group-level row, so double determinism holds (fixed op tree over
    identical inputs).
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        to_double(F.sum(dec("l_quantity"))).alias("sx"),
        to_double(F.sum(dec("l_extendedprice"))).alias("sy"),
        to_double(F.sum(dec("l_quantity") * dec("l_extendedprice"))).alias("sxy"),
        to_double(F.sum(dec("l_quantity") * dec("l_quantity"))).alias("sxx"),
        to_double(F.sum(dec("l_extendedprice") * dec("l_extendedprice"))).alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = nd * F.col("syy") - F.col("sy") * F.col("sy")
    m = s.withColumn("slope", cov_n / varx_n)
    return (
        m.select(
            "l_returnflag",
            "n",
            "slope",
            ((F.col("sy") - F.col("slope") * F.col("sx")) / nd).alias("intercept"),
            ((cov_n * cov_n) / (varx_n * vary_n)).alias("r2"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Fixed-width histogram (distribution profiling)
# ---------------------------------------------------------------------------

_HIST_WIDTH = 25000.0
_HIST_BUCKETS = 24  # covers o_totalprice's [0, 600k) domain


@query(
    "q137_price_histogram",
    oracle=f"""
    SELECT
      CAST(LEAST(GREATEST(FLOOR(o_totalprice / {_HIST_WIDTH!r}), 0.0),
                 {float(_HIST_BUCKETS - 1)!r}) AS BIGINT) AS bucket_id,
      CAST(LEAST(GREATEST(FLOOR(o_totalprice / {_HIST_WIDTH!r}), 0.0),
                 {float(_HIST_BUCKETS - 1)!r}) AS BIGINT) * {_HIST_WIDTH!r} AS bucket_lo,
      COUNT(*) AS n_orders,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY 1, 2
    ORDER BY bucket_id
    """,
    tags=("agg", "statistics", "profiling"),
)
def q137_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals: fixed [0, 600k) domain in
    24 buckets, clamped at both ends (standard profiling primitive —
    the fixed domain avoids a data-dependent min/max pre-pass).

    Scale: the bucket id is a scan-side expression (floor of one
    division — IEEE-exact on both engines), so this is a single
    map-side-combined aggregation; the shuffle carries ≤ 24 rows per
    map task. Profiling 100 TB costs one pass.
    """
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.least(
            F.greatest(F.floor(F.col("o_totalprice") / F.lit(_HIST_WIDTH)).cast("double"), F.lit(0.0)),
            F.lit(float(_HIST_BUCKETS - 1)),
        )
    ).cast("bigint")
    return (
        o.withColumn("bucket_id", bucket)
        .groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            to_double(F.sum(dec("o_totalprice"))).alias("sum_price"),
        )
        .select(
            "bucket_id",
            (F.col("bucket_id") * F.lit(_HIST_WIDTH)).alias("bucket_lo"),
            "n_orders",
            "sum_price",
        )
        .orderBy("bucket_id")
    )


# ---------------------------------------------------------------------------
# Ordered funnel (sequential conversion analysis)
# ---------------------------------------------------------------------------


@query(
    "q138_event_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT
      (SELECT COUNT(*) FROM v) AS n_view,
      (SELECT COUNT(*) FROM c) AS n_click_after_view,
      (SELECT COUNT(*) FROM p) AS n_purchase_after_click,
      -- BIGINT cast: DuckDB SUM(BIGINT) -> HUGEINT -> float64 in the
      -- driver canonicalizer (q66 r1 hazard); µs deltas fit int64.
      (SELECT CAST(SUM(epoch_us(p.t_purchase) - epoch_us(v.t_view)) AS BIGINT)
       FROM p JOIN v ON p.user_id = v.user_id) AS total_convert_us
    """,
    tags=("join", "time", "funnel"),
)
def q138_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel view → click → purchase:
    a user advances a stage only with an event strictly AFTER their
    entry into the previous stage (first-touch semantics).

    Scale: each stage is a filtered aggregation joined to the previous
    stage's per-user frontier — the frontier is |users| rows (tiny
    next to the event log), so at 100 TB these are classic
    shuffle-on-user_id joins that AQE converts to broadcast once the
    frontier fits. No window over the full log, no per-user event
    sorting: the MIN-above-threshold form needs only partial
    aggregation. Timestamps stay integral (epoch µs), so the conversion
    total is an exact BIGINT sum.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    # events.ts may arrive as TIMESTAMP_NTZ (parquet µs without tz);
    # unix_micros needs LTZ — the cast is value-identity under the
    # engine's pinned UTC session timezone.
    us = lambda col: F.unix_micros(F.col(col).cast("timestamp"))  # noqa: E731
    totals = (
        p.join(v, "user_id")
        .agg(F.sum(us("t_purchase") - us("t_view")).alias("total_convert_us"))
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_click_after_view"))))
        .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("n_purchase_after_click"))))
        .crossJoin(F.broadcast(totals))
    )
    return counts


# ---------------------------------------------------------------------------
# Retention cohort matrix (weekly cohorts × activity weeks)
# ---------------------------------------------------------------------------

_COHORT_EPOCH = "2024-01-01"


@query(
    "q145_retention_cohorts",
    oracle=f"""
    WITH wk AS (
      -- floor() before the BIGINT cast: DuckDB CAST(double AS BIGINT)
      -- ROUNDS half-to-even, Spark's floor truncates downward.
      SELECT DISTINCT user_id,
             CAST(floor(date_diff('day', DATE '{_COHORT_EPOCH}',
                                  CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week
      FROM events
    ),
    anchored AS (
      SELECT week,
             MIN(week) OVER (PARTITION BY user_id) AS cohort_week
      FROM wk
    )
    SELECT cohort_week,
           week - cohort_week AS weeks_since,
           COUNT(*) AS n_active
    FROM anchored
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("agg", "time", "cohort"),
)
def q145_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix: users are cohorted by their
    first active week; each cell counts cohort members active N weeks
    later — the standard retention triangle, all integer arithmetic.

    Scale: the event log is scanned ONCE, reducing immediately to
    distinct (user, week) pairs (map-side-combinable); the cohort
    anchor is a window MIN over that reduced frame — an
    unbounded-frame window Spark evaluates as a single per-partition
    constant, no self-join and no second log scan (a naive
    "cohort = groupBy(user).min JOIN activity" formulation re-reads
    the full log because Catalyst does not share unaliased subtrees).
    Week ids are integer day-diffs (no timezone arithmetic, no
    session-dependent truncation).
    """
    ev = load_table(spark, sf_dir, "events")
    week = (
        F.datediff(F.to_date(F.col("ts")), F.to_date(F.lit(_COHORT_EPOCH)))
        .cast("bigint")
        / F.lit(7)
    )
    wk = (
        ev.select(
            "user_id",
            F.floor(week).cast("bigint").alias("week"),
        )
        .distinct()
    )
    anchored = wk.select(
        "week",
        F.min("week").over(Window.partitionBy("user_id")).alias("cohort_week"),
    )
    return (
        anchored.groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("weeks_since")
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_week", "weeks_since")
    )


# ---------------------------------------------------------------------------
# Sequence-pattern detection (MATCH_RECOGNIZE-lite)
# ---------------------------------------------------------------------------


@query(
    "q148_event_pattern",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t1,
             lead(event_type, 2) OVER w AS t2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, COUNT(*) AS n_runs
    FROM seq
    WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("window", "sequence", "pattern"),
)
def q148_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern detection over per-user event streams: count
    CONSECUTIVE view→click→purchase runs (no intervening event — the
    strict MATCH_RECOGNIZE shape, vs q138's funnel which allows gaps).
    Implemented as a self-alignment via lead() — the standard
    distributed formulation of fixed-length pattern matching: no
    collect_list materialization, no UDF, and variable-length
    patterns compose by chaining the same primitive.

    Scale: one window partitioned by user_id with a total order
    (ts, event_id) — a single hash Exchange; the pattern predicate
    then reduces map-side into the per-user count. Pattern matching
    over 100 TB of events costs one shuffle of (user_id, type,
    2 lookahead types).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    )
    return (
        seq.filter(
            (F.col("event_type") == "view")
            & (F.col("t1") == "click")
            & (F.col("t2") == "purchase")
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_runs"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Cross-table referential / consistency audit (data quality)
# ---------------------------------------------------------------------------


@query(
    "q155_integrity_audit",
    oracle="""
    WITH li_sum AS (
      SELECT l_orderkey,
             SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                 * (CAST(1 AS DECIMAL(19,4)) - CAST(l_discount AS DECIMAL(19,4)))
                 * (CAST(1 AS DECIMAL(19,4)) + CAST(l_tax AS DECIMAL(19,4)))) AS computed
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT
      (SELECT COUNT(*) FROM orders) AS n_orders,
      (SELECT COUNT(*) FROM lineitem) AS n_lineitems,
      (SELECT COUNT(*) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        AS n_orphan_lineitems,
      (SELECT COUNT(*) FROM orders o
       WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
        AS n_childless_orders,
      (SELECT COUNT(*) FROM orders o JOIN li_sum s ON s.l_orderkey = o.o_orderkey
       WHERE abs(CAST(o.o_totalprice AS DECIMAL(19,4)) - s.computed)
             > CAST(0.01 AS DECIMAL(19,4)))
        AS n_price_mismatch
    """,
    tags=("audit", "quality", "join", "anti-join"),
)
def q155_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table consistency audit — the data-quality gate a
    pipeline runs before trusting a snapshot: orphaned child rows
    (lineitems without an order), childless parents, and stored-vs-
    recomputed total mismatches (exact DECIMAL arithmetic, tolerance
    0.01 — the business-rule check TPC-H's generator satisfies and
    real ingest pipelines violate).

    Scale: two anti-joins on the key (AQE-broadcast or SMJ as
    cardinality dictates) and one join against the per-order decimal
    rollup — every term is one shuffle on o_orderkey; the audit of a
    100 TB fact pair is a fixed number of co-partitioned passes, and
    with bucketed layouts (plans/bucketing.py) zero shuffles.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    d19 = lambda c: F.col(c).cast("decimal(19,4)")  # noqa: E731
    one = F.lit(1).cast("decimal(19,4)")
    computed = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(
                d19("l_extendedprice")
                * (one - d19("l_discount"))
                * (one + d19("l_tax"))
            ).alias("computed")
        )
    )
    n_orders = o.agg(F.count(F.lit(1)).alias("n_orders"))
    n_lineitems = li.agg(F.count(F.lit(1)).alias("n_lineitems"))
    orphans = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphan_lineitems"))
    )
    childless = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_childless_orders"))
    )
    mismatch = (
        o.join(computed, o.o_orderkey == computed.l_orderkey)
        .filter(
            F.abs(d19("o_totalprice") - F.col("computed"))
            > F.lit(0.01).cast("decimal(19,4)")
        )
        .agg(F.count(F.lit(1)).alias("n_price_mismatch"))
    )
    return (
        n_orders.crossJoin(F.broadcast(n_lineitems))
        .crossJoin(F.broadcast(orphans))
        .crossJoin(F.broadcast(childless))
        .crossJoin(F.broadcast(mismatch))
    )


# ---------------------------------------------------------------------------
# Two-sample experiment metrics (A/B statistics, closed form)
# ---------------------------------------------------------------------------


@query(
    "q156_ab_test_metrics",
    oracle="""
    WITH s AS (
      SELECT
        CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
        COUNT(*) AS n,
        CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sx,
        CAST(CAST(SUM(CAST(value AS DECIMAL(19,4))
                    * CAST(value AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sxx
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY 1
    ),
    m AS (
      SELECT arm, n, sx, sxx,
             sx / CAST(n AS DOUBLE) AS mean,
             (CAST(n AS DOUBLE) * sxx - sx * sx)
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var
      FROM s
    ),
    w AS (
      SELECT
        MAX(CASE WHEN arm = 'A' THEN n END) AS n_a,
        MAX(CASE WHEN arm = 'B' THEN n END) AS n_b,
        MAX(CASE WHEN arm = 'A' THEN mean END) AS mean_a,
        MAX(CASE WHEN arm = 'B' THEN mean END) AS mean_b,
        MAX(CASE WHEN arm = 'A' THEN var END) AS var_a,
        MAX(CASE WHEN arm = 'B' THEN var END) AS var_b
      FROM m
    )
    SELECT n_a, n_b, mean_a, mean_b, var_a, var_b,
           mean_a - mean_b AS effect,
           (mean_a - mean_b)
             / sqrt(var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE))
             AS t_stat
    FROM w
    """,
    tags=("agg", "statistics", "experiment"),
)
def q156_ab_test_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample experiment readout (Welch's t): per-arm counts,
    means and sample variances from exact decimal moments, then the
    effect size and t statistic as a FIXED tree of IEEE double ops
    (division and sqrt are correctly rounded, so the whole readout is
    bit-reproducible — the property experiment platforms need for
    re-runnable analyses).

    Scale: one aggregation over the metric events (2 groups × 3
    sums), then scalar arithmetic on a 2-row frame — the experiment
    readout over 100 TB of exposures costs one map-side-combined
    pass, the same shape as q136's grouped OLS.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    d19 = lambda c: F.col(c).cast("decimal(19,4)")  # noqa: E731
    s = (
        ev.withColumn(
            "arm", F.when(F.col("user_id") % 2 == 0, "A").otherwise("B")
        )
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            to_double(F.sum(dec("value"))).alias("sx"),
            to_double(F.sum(d19("value") * d19("value"))).alias("sxx"),
        )
    )
    nd = F.col("n").cast("double")
    m = s.select(
        "arm",
        "n",
        (F.col("sx") / nd).alias("mean"),
        ((nd * F.col("sxx") - F.col("sx") * F.col("sx")) / (nd * (nd - F.lit(1.0)))).alias("var"),
    )
    w = m.groupBy().agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "A", F.col("mean"))).alias("mean_a"),
        F.max(F.when(F.col("arm") == "B", F.col("mean"))).alias("mean_b"),
        F.max(F.when(F.col("arm") == "A", F.col("var"))).alias("var_a"),
        F.max(F.when(F.col("arm") == "B", F.col("var"))).alias("var_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    effect = F.col("mean_a") - F.col("mean_b")
    se = F.sqrt(F.col("var_a") / na + F.col("var_b") / nb)
    return w.select(
        "n_a", "n_b", "mean_a", "mean_b", "var_a", "var_b",
        effect.alias("effect"),
        (effect / se).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# Categorical drift detection (chi-square, fixed-order term sum)
# ---------------------------------------------------------------------------

_DRIFT_TYPES = ("click", "error", "purchase", "signup", "view")
_DRIFT_SPLIT_DAY = 15  # first half: day-of-month < 15


def _chi_term_sql(t: str) -> str:
    return (
        f"CASE WHEN e_{t} > 0.0 "
        f"THEN (o_{t} - e_{t}) * (o_{t} - e_{t}) / e_{t} ELSE 0.0 END"
    )


@query(
    "q159_distribution_drift",
    oracle=f"""
    WITH halves AS (
      SELECT event_type,
             CASE WHEN EXTRACT(day FROM ts) < {_DRIFT_SPLIT_DAY}
                  THEN 'h1' ELSE 'h2' END AS half
      FROM events
    ),
    counts AS (
      SELECT
        {", ".join(
            f"CAST(COUNT(CASE WHEN half = 'h1' AND event_type = '{t}' THEN 1 END) AS BIGINT) AS c1_{t}, "
            f"CAST(COUNT(CASE WHEN half = 'h2' AND event_type = '{t}' THEN 1 END) AS BIGINT) AS c2_{t}"
            for t in _DRIFT_TYPES)},
        CAST(COUNT(CASE WHEN half = 'h1' THEN 1 END) AS BIGINT) AS n1,
        CAST(COUNT(CASE WHEN half = 'h2' THEN 1 END) AS BIGINT) AS n2
      FROM halves
    ),
    obs AS (
      SELECT n1, n2,
        {", ".join(
            f"CAST(c2_{t} AS DOUBLE) AS o_{t}, "
            f"CAST(n2 AS DOUBLE) * (CAST(c1_{t} AS DOUBLE) / CAST(n1 AS DOUBLE)) AS e_{t}"
            for t in _DRIFT_TYPES)}
      FROM counts
    )
    SELECT n1, n2,
           {" + ".join(_chi_term_sql(t) for t in _DRIFT_TYPES)} AS chi2
    FROM obs
    """,
    tags=("agg", "statistics", "drift"),
)
def q159_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical distribution drift: chi-square statistic comparing
    the second half-month's event-type mix against expectations from
    the first half — the monitoring gate that catches a source whose
    composition shifted between snapshots.

    Determinism: per-class observed/expected are exact counts cast to
    double; the statistic is a FIXED five-term sum in class-name order
    (never a SUM over rows — double addition is not associative), so
    the readout is bit-identical across engines. Classes unseen in the
    baseline contribute 0 by the guarded term (both sides implement
    the same guard).

    Scale: one conditional-aggregation pass over the log (map-side
    combined, 12 counters per map task), then scalar arithmetic on a
    single row. Drift-checking 100 TB costs one scan.
    """
    ev = load_table(spark, sf_dir, "events")
    half = F.when(F.dayofmonth("ts") < _DRIFT_SPLIT_DAY, "h1").otherwise("h2")
    h = ev.select(F.col("event_type"), half.alias("half"))
    aggs = []
    for t in _DRIFT_TYPES:
        aggs.append(
            F.count(
                F.when((F.col("half") == "h1") & (F.col("event_type") == t), 1)
            ).alias(f"c1_{t}")
        )
        aggs.append(
            F.count(
                F.when((F.col("half") == "h2") & (F.col("event_type") == t), 1)
            ).alias(f"c2_{t}")
        )
    aggs.append(F.count(F.when(F.col("half") == "h1", 1)).alias("n1"))
    aggs.append(F.count(F.when(F.col("half") == "h2", 1)).alias("n2"))
    counts = h.groupBy().agg(*aggs)
    obs_cols = [F.col("n1"), F.col("n2")]
    for t in _DRIFT_TYPES:
        obs_cols.append(F.col(f"c2_{t}").cast("double").alias(f"o_{t}"))
        obs_cols.append(
            (
                F.col("n2").cast("double")
                * (F.col(f"c1_{t}").cast("double") / F.col("n1").cast("double"))
            ).alias(f"e_{t}")
        )
    obs = counts.select(*obs_cols)
    term = None
    for t in _DRIFT_TYPES:
        o, e = F.col(f"o_{t}"), F.col(f"e_{t}")
        tterm = F.when(e > 0.0, (o - e) * (o - e) / e).otherwise(F.lit(0.0))
        term = tterm if term is None else term + tterm
    return obs.select("n1", "n2", term.alias("chi2"))


# ---------------------------------------------------------------------------
# Concentration analysis (Pareto / cumulative-share)
# ---------------------------------------------------------------------------

_PARETO_SHARE = "0.8"  # literal, kept textual so both engines parse 0.8 once


@query(
    "q160_pareto_concentration",
    oracle=f"""
    WITH rev AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(19,4))) AS r
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, r,
             SUM(r) OVER (ORDER BY r DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(r) OVER () AS total,
             row_number() OVER (ORDER BY r DESC, o_custkey) AS rnk
      FROM rev
    ),
    shared AS (
      SELECT rnk,
             CAST(CAST(cum AS VARCHAR) AS DOUBLE)
               / CAST(CAST(total AS VARCHAR) AS DOUBLE) AS cum_share
      FROM ranked
    )
    SELECT
      (SELECT COUNT(*) FROM rev) AS n_customers,
      CAST((SELECT COUNT(*) FROM shared WHERE cum_share < {_PARETO_SHARE}) + 1
           AS BIGINT) AS n_to_80pct,
      (SELECT MIN(cum_share) FROM shared
       WHERE cum_share >= {_PARETO_SHARE}) AS share_at_crossing
    """,
    tags=("agg", "window", "statistics", "pareto"),
)
def q160_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (the 80/20 readout): rank customers by
    exact-decimal revenue, accumulate the running share in DECIMAL
    (order-independent exactness even inside the window), and report
    how many customers cover 80% of revenue plus the share at the
    crossing point.

    Determinism: the running sum stays decimal until the single
    string-mediated double conversion per row; the 0.8 threshold
    compares identically because both engines hold the identical
    doubles. Ties rank by customer key.

    Scale: the per-customer rollup is one map-side-combined shuffle;
    the running sum over the reduced |customers| frame is a
    ``banded_cumsum`` pass (banded two-level prefix sum — never a
    single-task global window; at 1e9 customers the SQL formulation
    pushes the whole frame through one task), decimal all the way;
    the whole-frame total rides the kernel's band frame.
    """
    o = load_table(spark, sf_dir, "orders")
    rev = (
        o.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(19,4)")).alias("r"))
        .localCheckpoint(eager=False)  # the kernel consumes it 3x
    )
    shared = banded_cumsum(
        rev,
        F.col("r"),
        "r",
        "cum",
        tie_col="o_custkey",
        descending=True,
        total_col="total",
        # truncate the kernel's three-consumer lineage (its join-back
        # re-derives the banded frame in-plan otherwise)
    ).localCheckpoint(eager=False).select(
        (
            to_double(F.col("cum")) / to_double(F.col("total"))
        ).alias("cum_share")
    )
    thresh = F.expr(_PARETO_SHARE)
    # one aggregate reads all three scalars off the ranked frame (the
    # kernel preserves rows, so COUNT(*) here == COUNT(*) over rev) —
    # no per-threshold jobs, no crossJoin re-assembly
    return shared.agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.count(F.when(F.col("cum_share") < thresh, 1)) + F.lit(1))
        .cast("bigint")
        .alias("n_to_80pct"),
        F.min(F.when(F.col("cum_share") >= thresh, F.col("cum_share"))).alias(
            "share_at_crossing"
        ),
    )


# ---------------------------------------------------------------------------
# Multi-pattern sequence matching (MATCH_RECOGNIZE-lite, q148 family)
# ---------------------------------------------------------------------------


def _multi_pattern_oracle() -> str:
    """Generate the DuckDB oracle from streaming.stateful's
    MULTI_PATTERNS dict — one lead() self-alignment shared by every
    pattern, one UNION ALL branch per pattern — so the batch oracle,
    the Spark plan, and the streaming matcher all read the same
    pattern table and cannot drift."""
    from target_hdfs_spark.streaming.stateful import MULTI_PATTERNS

    k = max(len(p) for p in MULTI_PATTERNS.values())
    leads = ",\n             ".join(
        f"lead(event_type, {i}) OVER w AS t{i}, "
        f"lead(event_id, {i}) OVER w AS id{i}"
        for i in range(1, k)
    )
    branches = []
    for name, pat in MULTI_PATTERNS.items():
        conds = [f"event_type = '{pat[0]}'"] + [
            f"t{i} = '{t}'" for i, t in enumerate(pat[1:], start=1)
        ]
        last = f"id{len(pat) - 1}" if len(pat) > 1 else "event_id"
        branches.append(
            f"SELECT user_id, '{name}' AS pattern, {last} AS last_event_id\n"
            f"    FROM seq WHERE " + " AND ".join(conds)
        )
    return (
        "WITH seq AS (\n"
        "      SELECT user_id, event_id, event_type,\n"
        f"             {leads}\n"
        "      FROM events\n"
        "      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)\n"
        "    )\n    "
        + "\n    UNION ALL\n    ".join(branches)
    )


@query(
    "q161_multi_pattern_match",
    oracle=_multi_pattern_oracle(),
    tags=("window", "sequence", "pattern", "streaming-twin"),
)
def q161_multi_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style MULTI-pattern detection: every named
    strict-consecutive pattern in streaming.stateful.MULTI_PATTERNS is
    matched simultaneously over each user's ordered stream, emitting
    (user_id, pattern, last_event_id) per match with skip-to-next-row
    overlap semantics. This is the oracle-checked batch definition of
    the streaming multi_pattern_stream operator's semantics (the
    parity test drives both over the same log).

    Scale: ONE window pass (a single user_id hash Exchange + within-
    partition sort) computes lookaheads up to the longest pattern;
    every pattern then filters the SAME eagerly-checkpointed alignment
    frame map-side — adding a pattern adds zero shuffles. The
    checkpoint keeps the tokenless ~40-byte alignment rows, never the
    event payloads.
    """
    from target_hdfs_spark.streaming.stateful import MULTI_PATTERNS

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    k = max(len(p) for p in MULTI_PATTERNS.values())
    seq = ev.select(
        "user_id",
        "event_type",
        "event_id",
        *[F.lead("event_type", i).over(w).alias(f"t{i}") for i in range(1, k)],
        *[F.lead("event_id", i).over(w).alias(f"id{i}") for i in range(1, k)],
    ).localCheckpoint(eager=True)
    out = None
    for name, pat in MULTI_PATTERNS.items():
        cond = F.col("event_type") == pat[0]
        for i, t in enumerate(pat[1:], start=1):
            cond = cond & (F.col(f"t{i}") == t)
        last = F.col(f"id{len(pat) - 1}") if len(pat) > 1 else F.col("event_id")
        branch = seq.filter(cond).select(
            "user_id",
            F.lit(name).alias("pattern"),
            last.alias("last_event_id"),
        )
        out = branch if out is None else out.unionByName(branch)
    return out


# ---------------------------------------------------------------------------
# Quantified / bounded-gap pattern matching (q148/q161 family, depth 3)
# ---------------------------------------------------------------------------


def _gap_pattern_masks(
    spec: dict,
) -> list[tuple[list[tuple[int, str, bool]], int]]:
    """Compile one GAP_PATTERNS/ALT_PATTERNS spec to alignment masks
    over the lead() frame: each mask is
    ([(lead_idx, type, positive), ...], completion_idx), ordered
    earliest-completion-first; `positive=False` entries require the
    position NOT to be the type (the negated-gap form). Row 0 (the
    match start) is constrained separately to spec['first'] (a type
    or an alternation tuple)."""
    from target_hdfs_spark.streaming.stateful import _gap_form

    masks = []
    form = _gap_form(spec)
    if form == "steps":
        # multi-step gapped sequence `A .. B .. C within K`: for each
        # completion index j (ascending -> earliest completion wins in
        # the when/CASE chain), one mask per strictly-increasing
        # placement of the intermediate steps before j — the OR over
        # placements is the ordered-subsequence existence test. The
        # arm count is sum_j C(j-1, k-2), bounded by the span bound
        # (within <= 8ish keeps it tens of arms), and each arm is a
        # map-side conjunction: still zero extra shuffles.
        from itertools import combinations

        mids = spec["steps"][1:-1]
        last = spec["steps"][-1]
        k = len(spec["steps"])
        for j in range(k - 1, spec["within"]):
            for placement in combinations(range(1, j), k - 2):
                mask = [
                    (pos, mid, True) for pos, mid in zip(placement, mids)
                ]
                mask.append((j, last, True))
                masks.append((mask, j))
        return masks
    if form == "any":
        # bounded gap: last at the EARLIEST j; intermediate rows free.
        # The mask chain encodes "earliest" by listing shorter spans
        # first and (for correctness under when-chains alone) pinning
        # earlier positions as NOT-last via chain order.
        for j in range(1, spec["within"]):
            masks.append(([(j, spec["last"], True)], j))
    elif form == "not":
        # negated gap `A (!X)* C`: every intermediate position must
        # NOT be X; earliest completion again via chain order
        for j in range(1, spec["within"]):
            mask = [(i, spec["middle_not"], False) for i in range(1, j)]
            mask.append((j, spec["last"], True))
            masks.append((mask, j))
    else:
        # contiguous quantifier: m repeats of middle then last
        for m in range(1, spec["within"] - 1):
            mask = [(i, spec["middle"], True) for i in range(1, m + 1)]
            mask.append((m + 1, spec["last"], True))
            masks.append((mask, m + 1))
    return masks


def _gap_pattern_oracle(patterns: dict[str, dict] | None = None) -> str:
    """DuckDB oracle generated from a streaming.stateful pattern dict
    (default GAP_PATTERNS; q233 passes ALT_PATTERNS) — the q161
    anti-drift trick: one lead() self-alignment shared by all
    patterns, one UNION ALL branch per pattern, earliest completion
    per start row via an ordered CASE chain. Negated positions
    compile to `t{i} <> 'X'` (NULL-safe: a NULL lead at i < j implies
    a NULL completion lead at j, so the arm never fires past the end
    of the stream); alternation starts compile to an IN list."""
    from target_hdfs_spark.streaming.stateful import (
        GAP_PATTERNS,
        _gap_first,
        _gap_keep,
    )

    patterns = patterns or GAP_PATTERNS
    keep = _gap_keep(patterns)
    leads = ",\n             ".join(
        f"lead(event_type, {i}) OVER w AS t{i}, "
        f"lead(event_id, {i}) OVER w AS id{i}"
        for i in range(1, keep + 1)
    )
    branches = []
    for name, spec in patterns.items():
        arms_id, arms_span = [], []
        for mask, j in _gap_pattern_masks(spec):
            cond = " AND ".join(
                f"t{i} {'=' if positive else '<>'} '{t}'"
                for i, t, positive in mask
            )
            arms_id.append(f"WHEN {cond} THEN id{j}")
            arms_span.append(f"WHEN {cond} THEN {j + 1}")
        firsts = ", ".join(f"'{t}'" for t in _gap_first(spec))
        branches.append(
            f"SELECT user_id, '{name}' AS pattern, event_id AS first_event_id,\n"
            f"           CASE {' '.join(arms_id)} END AS last_event_id,\n"
            f"           CAST(CASE {' '.join(arms_span)} END AS INT) AS span\n"
            f"    FROM seq WHERE event_type IN ({firsts})\n"
            f"      AND CASE {' '.join(arms_id)} END IS NOT NULL"
        )
    return (
        "WITH seq AS (\n"
        "      SELECT user_id, event_id, event_type,\n"
        f"             {leads}\n"
        "      FROM events\n"
        "      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)\n"
        "    )\n    "
        + "\n    UNION ALL\n    ".join(branches)
    )


@query(
    "q162_gapped_pattern_match",
    oracle=_gap_pattern_oracle(),
    tags=("window", "sequence", "pattern", "quantifier", "streaming-twin"),
)
def q162_gapped_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite beyond strict-consecutive: every
    streaming.stateful.GAP_PATTERNS entry — `first middle+ last` with
    a CONTIGUOUS one-or-more quantifier, or `first .. last` with a
    BOUNDED GAP — is matched over each user's ordered stream within
    its per-pattern event-span bound, emitting (user_id, pattern,
    first_event_id, last_event_id, span). Semantics: skip-to-next-row
    overlap (every `first` row starts independently) and earliest
    completion per start (an ordered when-chain over the compiled
    alignment masks; unique anyway for the contiguous form). The
    streaming twin gapped_pattern_stream evaluates the same masks
    incrementally; oracle, plan, and stream all compile from the one
    GAP_PATTERNS dict.

    Scale: the q161 posture holds — ONE user_id window Exchange
    builds lookaheads to the largest span bound, the alignment frame
    is eagerly checkpointed (~60-byte rows, no payloads), and each
    pattern is a map-side when-chain filter over it. Adding a pattern
    or widening a quantifier adds zero shuffles.
    """
    from target_hdfs_spark.streaming.stateful import GAP_PATTERNS

    return _gapped_match_plan(spark, sf_dir, GAP_PATTERNS)


def _gapped_match_plan(
    spark: SparkSession, sf_dir: str, patterns: dict[str, dict]
) -> DataFrame:
    """The shared batch plan for a gapped-pattern dict (q162's
    GAP_PATTERNS, q233's ALT_PATTERNS): one user_id window Exchange
    builds lookaheads to the dict's largest span bound, the alignment
    frame is eagerly checkpointed, and each pattern is a map-side
    when-chain over the compiled masks (ordered -> earliest
    completion per start)."""
    from target_hdfs_spark.streaming.stateful import _gap_first, _gap_keep

    keep = _gap_keep(patterns)
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "event_id",
        *[F.lead("event_type", i).over(w).alias(f"t{i}") for i in range(1, keep + 1)],
        *[F.lead("event_id", i).over(w).alias(f"id{i}") for i in range(1, keep + 1)],
    ).localCheckpoint(eager=True)
    out = None
    for name, spec in patterns.items():
        hit = None  # ordered when-chain -> earliest completion wins
        for mask, j in _gap_pattern_masks(spec):
            cond = None
            for i, t, positive in mask:
                c = (F.col(f"t{i}") == t) if positive else (F.col(f"t{i}") != t)
                cond = c if cond is None else cond & c
            arm = F.struct(
                F.col(f"id{j}").alias("last_event_id"),
                F.lit(j + 1).cast("int").alias("span"),
            )
            hit = F.when(cond, arm) if hit is None else hit.when(cond, arm)
        branch = (
            seq.filter(F.col("event_type").isin(*_gap_first(spec)))
            .select(
                "user_id",
                F.lit(name).alias("pattern"),
                F.col("event_id").alias("first_event_id"),
                hit.alias("_hit"),
            )
            .filter(F.col("_hit").isNotNull())
            .select(
                "user_id",
                "pattern",
                "first_event_id",
                F.col("_hit.last_event_id").alias("last_event_id"),
                F.col("_hit.span").alias("span"),
            )
        )
        out = branch if out is None else out.unionByName(branch)
    return out


def _alt_pattern_oracle() -> str:
    from target_hdfs_spark.streaming.stateful import ALT_PATTERNS

    return _gap_pattern_oracle(ALT_PATTERNS)


@query(
    "q233_alternation_negation_match",
    oracle=_alt_pattern_oracle(),
    tags=("window", "sequence", "pattern", "alternation", "negation",
          "streaming-twin"),
)
def q233_alternation_negation_match(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MATCH_RECOGNIZE-lite, vocabulary depth 4 (r6 verdict item 7):
    ALTERNATION on the start step — `(view|signup) .. purchase`, any
    of the listed types opens a match — and NEGATION on the gap —
    `click (!error)* purchase`, any events may intervene EXCEPT the
    forbidden type (the clean-path conversion: one error inside the
    window kills every completion after it). Both compile through the
    SAME single-spec discipline as q148/q161/q162: one ALT_PATTERNS
    entry emits the Spark when-chain plan, the generated DuckDB
    oracle, and the incremental streaming matcher
    (gapped_pattern_stream(patterns=ALT_PATTERNS)), so the three
    surfaces cannot drift. Semantics unchanged from q162:
    skip-to-next-row overlap, earliest completion per start, span
    bounded per pattern.

    Scale: identical posture to q162 — ONE user_id window Exchange,
    checkpointed ~60-byte alignment rows, map-side when-chains;
    alternation adds an isin to the start filter and negation flips
    mask equalities — zero additional shuffles.
    """
    from target_hdfs_spark.streaming.stateful import ALT_PATTERNS

    return _gapped_match_plan(spark, sf_dir, ALT_PATTERNS)


def _seq_pattern_oracle() -> str:
    from target_hdfs_spark.streaming.stateful import SEQ_PATTERNS

    return _gap_pattern_oracle(SEQ_PATTERNS)


@query(
    "q235_three_step_gapped_match",
    oracle=_seq_pattern_oracle(),
    tags=("window", "sequence", "pattern", "multi-step", "streaming-twin"),
)
def q235_three_step_gapped_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite, vocabulary depth 5: MULTI-STEP gapped
    sequences — `view .. click .. purchase within 6 events`, every
    intermediate step required IN ORDER with free gaps (the full
    funnel at event granularity, unlike q138's per-user frontier
    summary: every (start, earliest completion) instance is a row,
    span-bounded). The SEQ_PATTERNS entry compiles to
    ordered-subsequence masks — for each completion index j
    (ascending, so the when/CASE chain's first hit IS the earliest
    completion), one arm per strictly-increasing placement of the
    intermediate steps; the OR over placements is the subsequence
    existence test. Same three-surface discipline: this plan, the
    generated DuckDB oracle, and
    gapped_pattern_stream(patterns=SEQ_PATTERNS) all compile from the
    one dict. Skip-to-next-row overlap; earliest completion per
    start (an earlier in-gap closing event with a valid embedding
    completes there instead — chain order and the streaming matcher
    agree by construction).

    Scale: q162's posture — ONE user_id window Exchange, checkpointed
    alignment rows, map-side when-chains; the arm count is
    sum over completion offsets j in [k-1, within-1] of C(j-1, k-2)
    (k=3, within=6 here: C(1,1)+C(2,1)+C(3,1)+C(4,1) = 10 arms), all
    evaluated in one projection.
    """
    from target_hdfs_spark.streaming.stateful import SEQ_PATTERNS

    return _gapped_match_plan(spark, sf_dir, SEQ_PATTERNS)


# ---------------------------------------------------------------------------
# Interval-overlap join (session intervals x incident windows)
# ---------------------------------------------------------------------------

# Fixed time-bucket width for the binned overlap join, and the window
# an error event stays "open" as an incident. Both in epoch µs.
_OVERLAP_BUCKET_US = 600_000_000  # 10 minutes
_INCIDENT_SPAN_US = 300_000_000  # 5 minutes


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    bucket_width: int,
    l_start: str = "s_start",
    l_end: str = "s_end",
    r_start: str = "i_start",
    r_end: str = "i_end",
) -> DataFrame:
    """Generic binned interval-overlap equi-join: every (left, right)
    pair of half-open int64 intervals [start, end) that overlap,
    emitted EXACTLY once, as an equi-join on fixed-width time buckets
    rather than a nested-loop inequality join.

    Each side explodes into the buckets its interval covers
    (floor(start/w) .. floor((end-1)/w)); the join keys on bucket with
    the overlap inequalities as residual filters; a pair sharing
    several buckets is kept only in the bucket containing
    greatest(l_start, r_start), a point inside BOTH intervals of any
    overlapping pair — so no distinct pass. Requires non-negative
    start/end (floor-vs-truncate `div` semantics diverge below zero)
    and non-empty intervals (start < end).

    Scale: explode factor = span/bucket_width per row; one Exchange
    keyed on bucket (AQE-skew-splittable); never CartesianProduct or
    BroadcastNestedLoopJoin regardless of either side's size.
    """
    w = int(bucket_width)
    lb = left.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.expr(f"{l_start} div {w}"), F.expr(f"({l_end} - 1) div {w}")
            )
        ),
    )
    rb = right.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.expr(f"{r_start} div {w}"), F.expr(f"({r_end} - 1) div {w}")
            )
        ),
    )
    return (
        lb.join(
            rb,
            on=[
                lb["_bucket"] == rb["_bucket"],
                lb[l_start] < rb[r_end],
                rb[r_start] < lb[l_end],
            ],
        )
        .filter(
            # exactly-once: keep the one bucket containing the later start
            F.expr(f"greatest({l_start}, {r_start}) div {w}") == lb["_bucket"]
        )
        .drop("_bucket")
    )


# Sessionization CTEs shared by the interval analytics oracles
# (q165, q173): q33 semantics — 10-minute inactivity gap over
# non-error events, session end = last event + gap, epoch-µs ints.
_SESSIONS_SQL = """
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE event_type <> 'error'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM flagged
    ),
    sessions AS (
      SELECT user_id,
             CAST(epoch_us(MIN(ts)) AS BIGINT) AS s_start,
             CAST(epoch_us(MAX(ts) + INTERVAL '10 minutes') AS BIGINT) AS s_end
      FROM numbered GROUP BY user_id, session_id
    )
"""


def _activity_sessions(ev: DataFrame) -> DataFrame:
    """(user_id, s_start, s_end) epoch-µs activity sessions — the
    Spark twin of _SESSIONS_SQL (session_window merges events <= gap
    apart, end = last + gap; q33 semantics)."""
    return (
        ev.filter(F.col("event_type") != "error")
        .groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start").cast("timestamp")).alias(
                "s_start"
            ),
            F.unix_micros(F.col("session_window.end").cast("timestamp")).alias(
                "s_end"
            ),
        )
    )


@query(
    "q165_interval_overlap_join",
    oracle=f"""
    WITH {_SESSIONS_SQL},
    incidents AS (
      SELECT CAST(epoch_us(ts) AS BIGINT) AS i_start,
             CAST(epoch_us(ts) + {_INCIDENT_SPAN_US} AS BIGINT) AS i_end
      FROM events WHERE event_type = 'error'
    )
    SELECT s.user_id, s.s_start AS session_start_us,
           CAST(COUNT(*) AS BIGINT) AS n_incidents,
           CAST(SUM(least(s.s_end, i.i_end) - greatest(s.s_start, i.i_start))
                AS BIGINT) AS overlap_us
    FROM sessions s
    JOIN incidents i ON s.s_start < i.i_end AND i.i_start < s.s_end
    GROUP BY s.user_id, s.s_start
    """,
    tags=("join", "interval", "session", "time"),
)
def q165_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: per-user activity sessions (10-minute
    inactivity gap over non-error events, q33 semantics) joined to
    GLOBAL incident windows (each error event opens a 5-minute
    window), reporting per session how many incidents it overlapped
    and the total overlap in µs. Intervals are half-open [start, end)
    in epoch µs, so every duration is an exact int64.

    The overlap predicate itself (s_start < i_end AND i_start < s_end)
    is a non-equi condition — naively a BroadcastNestedLoopJoin that
    scans |sessions| x |incidents|. The scale path BINS both interval
    sets into fixed 10-minute buckets: each interval explodes into the
    buckets it covers, the join becomes an EQUI-join on bucket (hash
    shuffle, AQE-skew-splittable when an incident storm makes one
    bucket hot), and a pair that shares several buckets is emitted
    exactly once by keeping only the bucket containing
    greatest(s_start, i_start) — that point lies inside BOTH intervals
    of every overlapping pair, so no distinct/dedup pass is needed.
    The oracle cross-checks with the plain inequality join DuckDB
    runs natively (IEJoin); agreement pins that the binning loses and
    duplicates nothing.

    Scale: explode factor = interval span / bucket width (sessions are
    gap-bounded, incidents fixed-width, so both are small constants);
    the join is one Exchange on bucket; the final per-session rollup
    re-shuffles on (user_id, s_start). 100 TB posture: no nested-loop
    join anywhere in the plan (pinned by tests), both sides stream
    through a hash join keyed on time buckets.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # events.ts is TIMESTAMP_NTZ in the parquet; unix_micros needs LTZ —
    # value-identity under the engine's pinned UTC session timezone.
    sess = _activity_sessions(ev)
    inc = (
        ev.filter(F.col("event_type") == "error")
        .select(F.unix_micros(F.col("ts").cast("timestamp")).alias("i_start"))
        .withColumn("i_end", F.col("i_start") + F.lit(_INCIDENT_SPAN_US))
    )
    joined = interval_overlap_join(sess, inc, _OVERLAP_BUCKET_US)
    return (
        joined.select("user_id", "s_start", "s_end", "i_start", "i_end")
        .groupBy("user_id", F.col("s_start").alias("session_start_us"))
        .agg(
            F.count(F.lit(1)).alias("n_incidents"),
            F.sum(
                F.least("s_end", "i_end") - F.greatest("s_start", "i_start")
            ).alias("overlap_us"),
        )
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto-optimal set) per group
# ---------------------------------------------------------------------------


def skyline_2d(
    df: DataFrame, group: str, minimize: str, maximize: str
) -> DataFrame:
    """Per-group 2-criteria skyline (Pareto-optimal set: `minimize`
    low, `maximize` high; dominance strict on at least one axis) via
    the cumulative-max window rewrite — no self-join: reduce to
    distinct `minimize` levels (max of `maximize` per level), keep
    levels strictly above the running max over strictly-lower levels,
    then join survivors back. Returns the input rows that are
    Pareto-optimal within their group. Two criteria only — dominance
    in 3+ dimensions has no total-order collapse, which is exactly
    why this helper hard-codes the 2-D case."""
    lvl = df.groupBy(group, minimize).agg(F.max(maximize).alias("_lvl_max"))
    w = (
        Window.partitionBy(group)
        .orderBy(minimize)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky_lvl = (
        lvl.withColumn("_prev_max", F.max("_lvl_max").over(w))
        .filter(
            F.col("_prev_max").isNull() | (F.col("_lvl_max") > F.col("_prev_max"))
        )
        .select(group, minimize, "_lvl_max")
    )
    return (
        df.join(sky_lvl, [group, minimize])
        .filter(F.col(maximize) == F.col("_lvl_max"))
        .drop("_lvl_max")
    )


@query(
    "q167_skyline_parts",
    oracle="""
    SELECT p.p_brand, p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_brand = p.p_brand
        AND q.p_retailprice <= p.p_retailprice
        AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
    tags=("window", "skyline", "pareto"),
)
def q167_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand skyline (Pareto-optimal set): parts not dominated on
    (price low, size high) by any same-brand part — dominance needs
    <=/>= on both axes and strict on at least one, so exact ties on
    both axes survive together.

    The naive operator is a quadratic self-anti-join. For TWO
    criteria, the skyline collapses to a CUMULATIVE-MAX WINDOW:
    reduce to distinct price levels (max size per (brand, price)),
    order levels by price, and a level survives iff its max size
    strictly exceeds the running max over all STRICTLY CHEAPER
    levels; joining survivors back picks every part at the level's
    max size. One partial-agg shuffle, one per-brand window over the
    (tiny) level table, one equi-join back — no self-join anywhere.
    The oracle deliberately uses the quadratic NOT EXISTS
    formulation, so agreement proves the window rewrite implements
    exactly dominance semantics.

    Scale: the level table is |distinct (brand, price)| — orders of
    magnitude below the fact table — so the window sort is cheap and
    AQE broadcasts the survivor join. 100x more parts with the same
    price grid adds zero window cost.
    """
    part = load_table(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_retailprice", "p_size"
    )
    return skyline_2d(
        part, group="p_brand", minimize="p_retailprice", maximize="p_size"
    ).select("p_brand", "p_partkey", "p_retailprice", "p_size")


# ---------------------------------------------------------------------------
# Sweep-line concurrency gauge (max concurrent intervals per hour)
# ---------------------------------------------------------------------------

_HOUR_US = 3_600_000_000


@query(
    "q173_peak_concurrency",
    oracle=f"""
    WITH {_SESSIONS_SQL},
    bounds AS (
      SELECT s_start AS ts, 1 AS delta FROM sessions
      UNION ALL
      SELECT s_end, -1 FROM sessions
    ),
    run AS (
      SELECT ts, delta,
             SUM(delta) OVER (
               ORDER BY ts, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS conc
      FROM bounds
    )
    SELECT ts // {_HOUR_US} AS hour_id,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
           CAST(SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ends
    FROM run
    GROUP BY 1
    """,
    tags=("window", "sweepline", "interval", "time"),
)
def q173_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrency gauge: per hour, the PEAK number of simultaneously
    open activity sessions (plus boundary counts), by the classic
    sweep-line — +1 at each session start, -1 at each end (half-open,
    so a start at exactly another session's end is NOT concurrent
    with it: ends sort before starts at the same µs via delta order),
    running sum = live concurrency, max per hour. Hours with no
    boundary events are omitted (their concurrency is the constant
    carry; q135 is the gap-fill operator).

    Scale: the textbook formulation is one GLOBAL ordered cumulative
    sum — a single-partition window, the classic Spark scale trap.
    This plan SEGMENTS the scan: (1) per-hour boundary deltas
    aggregate map-side to one small row per hour; (2) the hour-level
    carry-in is a cumulative sum over that tiny frame (the only
    unpartitioned window, sized |hours|, constant in event volume);
    (3) the within-hour running sum is a window PARTITIONED BY hour —
    fully parallel — plus the broadcast carry-in. Exactly the
    two-level prefix-scan decomposition, expressed declaratively.
    Determinism: rows tied on (ts, delta) commute in the prefix sum,
    so the per-hour max needs no further tiebreak.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    sess = _activity_sessions(ev)
    bounds = sess.select(
        F.col("s_start").alias("ts"), F.lit(1).alias("delta")
    ).unionAll(sess.select(F.col("s_end").alias("ts"), F.lit(-1).alias("delta")))
    bounds = bounds.withColumn("hour_id", F.expr(f"ts div {_HOUR_US}"))
    hour_net = bounds.groupBy("hour_id").agg(F.sum("delta").alias("net"))
    w_hours = (
        Window.orderBy("hour_id").rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = hour_net.select(
        "hour_id", F.coalesce(F.sum("net").over(w_hours), F.lit(0)).alias("carry_in")
    )
    w_in_hour = (
        Window.partitionBy("hour_id")
        .orderBy("ts", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = (
        bounds.withColumn("run", F.sum("delta").over(w_in_hour))
        .join(F.broadcast(carry), "hour_id")
        .withColumn("conc", F.col("carry_in") + F.col("run"))
    )
    return run.groupBy("hour_id").agg(
        F.max("conc").cast("long").alias("peak_concurrency"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias("n_starts"),
        F.sum(F.when(F.col("delta") == -1, 1).otherwise(0)).alias("n_ends"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP-style interval-weighted aggregation)
# ---------------------------------------------------------------------------


@query(
    "q174_time_weighted_value",
    oracle="""
    WITH obs AS (
      SELECT user_id,
             CAST(epoch_us(ts) AS BIGINT) AS t_us,
             CAST(floor(value * 100) AS BIGINT) AS v_cents,
             lead(CAST(epoch_us(ts) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_us
      FROM events
    ),
    weighted AS (
      SELECT user_id, v_cents, next_us - t_us AS w_us
      FROM obs WHERE next_us IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(w_us) AS BIGINT) AS total_us,
           CAST(SUM(v_cents * w_us) AS BIGINT) // CAST(SUM(w_us) AS BIGINT)
             AS twap_cents
    FROM weighted
    GROUP BY user_id
    """,
    tags=("window", "time", "agg", "twap"),
)
def q174_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (the TWAP shape): each
    observation holds from its timestamp until the user's next event
    (lead), weighted by the exact µs interval; the average is the
    int64 ratio sum(v*w) div sum(w). Point-in-time averages (q07
    family) answer "what was the mean reading"; this answers "what
    was the mean EXPOSURE" — the correct aggregate whenever sampling
    is irregular, and a different number exactly when it matters.
    Integer throughout: cents via floor(value*100) (floor, not cast
    — engine casts disagree on rounding), µs weights, int64 products
    — order-independent, hence exact. A user's last observation has
    no successor and carries zero weight (single-event users drop
    out, matching the oracle's inner filter).

    Scale: ONE user-partitioned window pass (lead only — no
    unbounded frame state), then a hash aggregation whose shuffle
    carries two int64 sums + a count per user. Headroom:
    v_cents * w_us needs max_value_cents * observed_span_us < 2^63 —
    ~1e4 cents over a month is 2.6e16, three decades clear.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    obs = ev.select(
        "user_id",
        us.alias("t_us"),
        F.floor(F.col("value") * 100).cast("long").alias("v_cents"),
        F.lead(us).over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    return (
        obs.select(
            "user_id", "v_cents", (F.col("next_us") - F.col("t_us")).alias("w_us")
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("w_us").alias("total_us"),
            F.expr("sum(v_cents * w_us) div sum(w_us)").alias("twap_cents"),
        )
        .select("user_id", "n_intervals", "total_us", "twap_cents")
    )


# ---------------------------------------------------------------------------
# Recency-weighted engagement (dyadic half-life decay, integer-exact)
# ---------------------------------------------------------------------------

_DAY_US = 86_400_000_000


@query(
    "q175_recency_weighted_engagement",
    oracle=f"""
    WITH anchor AS (
      SELECT CAST(epoch_us(MAX(ts)) AS BIGINT) AS t_max FROM events
    ),
    scored AS (
      SELECT e.user_id,
             CAST(floor(e.value * 100) AS BIGINT)
               // (CAST(1 AS BIGINT) << CAST(
                    (a.t_max - CAST(epoch_us(e.ts) AS BIGINT)) // {_DAY_US}
                  AS INT)) AS v_decayed
      FROM events e CROSS JOIN anchor a
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(v_decayed) AS BIGINT) AS engagement
    FROM scored
    GROUP BY user_id
    """,
    tags=("agg", "time", "decay"),
)
def q175_recency_weighted_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement per user with a ONE-DAY HALF-LIFE:
    each event contributes value/2^age_days, where age is measured
    back from the corpus's latest event. Exponential decay normally
    means exp()/pow() — banned transcendentals in this engine's
    checkable surface — but a dyadic half-life is an INTEGER RIGHT
    SHIFT: v_cents div (1 << age_days), exact on both engines, so a
    decayed feature-store aggregate gets a full value pin. Events
    older than 63 days decay to zero naturally; the shift count is
    capped by the data's one-month span (at longer horizons clamp
    the exponent — a day over 62 must short-circuit to 0 before the
    shift to avoid int64 overflow).

    Scale: the anchor timestamp is a 1-row broadcast; scoring is a
    scan-side expression; one hash aggregation keyed on user. The
    100 TB shape is a single pass with map-side partials.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    anchor = ev.agg(F.max(us).alias("t_max"))
    return (
        ev.crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.expr(
                f"cast(floor(value * 100) as bigint)"
                f" div shiftleft(cast(1 as bigint),"
                f" cast((t_max - unix_micros(cast(ts as timestamp)))"
                f" div {_DAY_US} as int))"
            ).alias("v_decayed"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_decayed").alias("engagement"),
        )
    )


# ---------------------------------------------------------------------------
# Association rules (market-basket co-occurrence: support/confidence/lift)
# ---------------------------------------------------------------------------

_MIN_SUPPORT_PPM = 20_000  # 2% of baskets


@query(
    "q176_association_rules",
    oracle=f"""
    WITH bi AS (
      SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    nb AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM bi),
    cnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM bi GROUP BY b),
    pairs AS (
      SELECT x.b AS ba, y.b AS bb, CAST(COUNT(*) AS BIGINT) AS pc
      FROM bi x JOIN bi y ON x.ok = y.ok AND x.b < y.b
      GROUP BY x.b, y.b
    )
    SELECT ba AS brand_a, bb AS brand_b, pc AS pair_cnt,
           CAST(pc * 1000000 // nb.n_baskets AS BIGINT) AS support_ppm,
           CAST(pc * 1000000 // ca.c AS BIGINT) AS conf_a_b_ppm,
           CAST(pc * 1000000 // cb.c AS BIGINT) AS conf_b_a_ppm,
           (CAST(pc AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE))
             / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS lift
    FROM pairs
    CROSS JOIN nb
    JOIN cnt ca ON ca.b = pairs.ba
    JOIN cnt cb ON cb.b = pairs.bb
    WHERE pc * 1000000 // nb.n_baskets >= {_MIN_SUPPORT_PPM}
    """,
    tags=("join", "agg", "mining"),
)
def q176_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: which part
    BRANDS co-occur in the same order beyond chance. Emits, per
    brand pair above 2% support, the basket co-count, support (ppm of
    all baskets), both directed confidences, and lift — the core
    frequent-itemset readout (A-priori at itemset size 2) that drives
    cross-sell and co-curation decisions.

    The naive formulation self-joins the basket-item table on basket
    id — at 100 TB that shuffles the corpus twice and recomputes each
    basket's item set n² times. This plan instead groups ONCE per
    basket, sorts the (tiny, bounded-by-|brands|) per-basket set, and
    emits each unordered pair map-side from the sorted array
    (`transform` x `slice` — no join, no second shuffle). Pair counts
    then aggregate on a key space bounded by |brands|² — independent
    of corpus size — and the brand-count / total-basket enrichments
    are broadcast joins against frames no larger than the dimension.

    Determinism: support/confidence use int64 truncated division
    (exact); lift is a FIXED four-leaf IEEE tree over exact int64
    counts (each < 2^53, so the doubles are exact and the single
    rounding per op is identical on both engines).

    Integer headroom: pair_cnt * 1e6 needs pair_cnt < 9.2e12 —
    three decades above a 1e9-basket corpus.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bi = li.join(part, li.l_partkey == part.p_partkey).select(
        F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b")
    )
    # collect_set dedups, so the per-basket grouping is the ONLY
    # corpus-sized Exchange — a separate distinct() pass would shuffle
    # the corpus a second time for nothing. The compact per-basket
    # frame (one bounded array per order) is checkpointed once and
    # feeds all three consumers (pairs, item counts, basket total).
    baskets = (
        bi.groupBy("ok")
        .agg(F.array_sort(F.collect_set("b")).alias("bs"))
        .localCheckpoint(eager=False)
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(bs, (x, i) ->"
                    " transform(slice(bs, i + 2, size(bs)),"
                    " y -> struct(x AS ba, y AS bb))))"
                )
            ).alias("p")
        )
        .select("p.ba", "p.bb")
        .groupBy("ba", "bb")
        .agg(F.count(F.lit(1)).alias("pc"))
    )
    cnt = (
        baskets.select(F.explode("bs").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nb = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    return (
        pairs.crossJoin(F.broadcast(nb))
        .join(F.broadcast(cnt.select(F.col("b").alias("ba"), F.col("c").alias("ca"))), "ba")
        .join(F.broadcast(cnt.select(F.col("b").alias("bb"), F.col("c").alias("cb"))), "bb")
        .filter(F.expr(f"pc * 1000000 div n_baskets >= {_MIN_SUPPORT_PPM}"))
        .select(
            F.col("ba").alias("brand_a"),
            F.col("bb").alias("brand_b"),
            F.col("pc").alias("pair_cnt"),
            F.expr("pc * 1000000 div n_baskets").alias("support_ppm"),
            F.expr("pc * 1000000 div ca").alias("conf_a_b_ppm"),
            F.expr("pc * 1000000 div cb").alias("conf_b_a_ppm"),
            (
                (F.col("pc").cast("double") * F.col("n_baskets").cast("double"))
                / (F.col("ca").cast("double") * F.col("cb").cast("double"))
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-touch attribution (position-based / U-shaped credit)
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 60 * 60 * 1_000_000  # 60 minutes


@query(
    "q177_multi_touch_attribution",
    oracle=f"""
    WITH p AS (
      SELECT user_id, event_id AS pid,
             CAST(epoch_us(ts) AS BIGINT) AS pts,
             CAST(floor(value * 100) AS BIGINT) AS v_cents
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, event_id AS tid, event_type,
             CAST(epoch_us(ts) AS BIGINT) AS tts
      FROM events WHERE event_type <> 'purchase'
    ),
    touches AS (
      SELECT p.pid, p.v_cents, t.event_type,
             ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY t.tts, t.tid) AS rn,
             COUNT(*) OVER (PARTITION BY p.pid) AS n
      FROM p JOIN t ON p.user_id = t.user_id
        AND t.tts <= p.pts AND t.tts > p.pts - {_ATTR_WINDOW_US}
    ),
    credited AS (
      SELECT event_type, v_cents,
             CASE
               WHEN n = 1 THEN 1000000
               WHEN n = 2 THEN 500000
               WHEN rn = 1 THEN 400000 + (200000 - (n - 2) * (200000 // (n - 2)))
               WHEN rn = n THEN 400000
               ELSE 200000 // (n - 2)
             END AS ppm
      FROM touches
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(ppm) AS BIGINT) AS total_ppm,
           CAST(SUM(v_cents * ppm // 1000000) AS BIGINT) AS credited_cents
    FROM credited
    GROUP BY event_type
    """,
    tags=("join", "window", "attribution"),
)
def q177_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: every
    purchase splits its value across the same user's non-purchase
    touches in the preceding 60 minutes — 40% to the first touch, 40%
    to the last, 20% spread evenly over the middles (n=1 -> 100%,
    n=2 -> 50/50). Where q131 answers "how many touches preceded the
    purchase", this assigns each touch a CREDITED REVENUE — the
    marketing-mix readout — aggregated per touch channel
    (event_type).

    Credit is integer ppm with the even-split remainder pinned to the
    first touch, so per-purchase credits sum to exactly 1e6 ppm and
    the whole statement is int64-exact (credited cents use one
    truncated division per touch, identical on both engines).

    Scale: the purchase-touch pairing is an EQUI join on user_id with
    the 60-minute band as a residual predicate — user-partitioned
    shuffle, never a cross product (same posture as q131). The
    position window repartitions by purchase id — purchase-bounded
    groups (touches-in-one-hour), so no skew beyond a single user's
    event rate — and the final aggregation reduces to |channels|
    rows with map-side partials.

    Headroom: v_cents * ppm needs purchase values < 9.2e12 cents.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        us.alias("pts"),
        F.floor(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    t = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("t_user_id"),
        F.col("event_id").alias("tid"),
        "event_type",
        us.alias("tts"),
    )
    joined = p.join(
        t,
        (F.col("user_id") == F.col("t_user_id"))
        & (F.col("tts") <= F.col("pts"))
        & (F.col("tts") > F.col("pts") - F.lit(_ATTR_WINDOW_US)),
    )
    w = Window.partitionBy("pid").orderBy("tts", "tid")
    touches = joined.select(
        "pid",
        "v_cents",
        "event_type",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("pid")).alias("n"),
    )
    credited = touches.select(
        "event_type",
        "v_cents",
        F.expr(
            "CASE WHEN n = 1 THEN 1000000"
            " WHEN n = 2 THEN 500000"
            " WHEN rn = 1 THEN 400000 + (200000 - (n - 2) * (200000 div (n - 2)))"
            " WHEN rn = n THEN 400000"
            " ELSE 200000 div (n - 2) END"
        ).alias("ppm"),
    )
    return credited.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_credits"),
        F.sum("ppm").alias("total_ppm"),
        F.expr("sum(v_cents * ppm div 1000000)").alias("credited_cents"),
    )


# ---------------------------------------------------------------------------
# Markov transition matrix + stationary distribution (fixed-point power iter)
# ---------------------------------------------------------------------------

_MARKOV_ITERS = 3
_PPB = 1_000_000_000


def _markov_iter_sql(t: int) -> str:
    """One unrolled power-iteration CTE: pi_{t+1}(dst) =
    SUM_src pi_t(src) * P_ppb(src, dst) div 1e9 — integer products
    summed (order-independent), ONE truncated division after."""
    return f"""
    pi{t + 1} AS (
      SELECT m.dst AS state,
             CAST(SUM(pi{t}.p * m.p_ppb) // {_PPB} AS BIGINT) AS p
      FROM pi{t} JOIN m ON pi{t}.state = m.src
      GROUP BY m.dst
    )"""


@query(
    "q178_markov_stationary",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS dst
      FROM events
    ),
    c AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
    ),
    tot AS (SELECT src, CAST(SUM(n) AS BIGINT) AS row_n FROM c GROUP BY src),
    m AS (
      SELECT c.src, c.dst, CAST(c.n * {_PPB} // tot.row_n AS BIGINT) AS p_ppb
      FROM c JOIN tot ON c.src = tot.src
    ),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM tot),
    pi0 AS (SELECT src AS state, CAST({_PPB} // s.ns AS BIGINT) AS p
            FROM tot CROSS JOIN s),
    {",".join(_markov_iter_sql(t) for t in range(_MARKOV_ITERS))}
    SELECT pi{_MARKOV_ITERS}.state AS state,
           pi{_MARKOV_ITERS}.p AS stationary_ppb,
           tot.row_n AS n_out_transitions
    FROM pi{_MARKOV_ITERS} JOIN tot ON tot.src = pi{_MARKOV_ITERS}.state
    """,
    tags=("window", "iterative", "graph"),
)
def q178_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain behavior model over the event stream: per-user
    event-type transition counts -> row-normalized transition matrix
    in 1e9 fixed point -> {_MARKOV_ITERS} unrolled power-iteration
    steps from the uniform start -> the approximate stationary
    distribution (where user attention concentrates in steady state).
    Companion to q151's PageRank: same fixed-point iterative
    discipline, but the graph is LEARNED from sequence data rather
    than given.

    Exactness (what makes an iterative float algorithm
    oracle-checkable): probabilities are int64 ppb via truncated
    division; each iteration sums int64 PRODUCTS and divides ONCE, so
    no intermediate depends on aggregation order. Headroom:
    sum_src pi(src)*P_ppb <= 1e9 * 1e9 = 1e18 < 2^63.

    Scale: the ONLY corpus-sized work is the lead() window (one
    user-partitioned Exchange — the q148/q161 posture) and the
    (src, dst) count aggregation, whose key space is |event types|²
    regardless of corpus size. The matrix/vector joins after that
    touch S² <= ~25-row frames — AQE broadcasts them; the unrolled
    iterations add no corpus-sized stage. States are those with >= 1
    outgoing transition (mass on a pure-sink state would leak; the
    engine's event taxonomy has none).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    c = (
        seq.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    c = c.localCheckpoint(eager=True)  # matrix reused by every iteration
    tot = c.groupBy("src").agg(F.sum("n").alias("row_n"))
    m = c.join(tot, "src").select(
        "src", "dst", F.expr(f"n * {_PPB} div row_n").alias("p_ppb")
    )
    s = tot.agg(F.count(F.lit(1)).alias("ns"))
    pi = tot.crossJoin(F.broadcast(s)).select(
        F.col("src").alias("state"), F.expr(f"{_PPB} div ns").alias("p")
    )
    for _ in range(_MARKOV_ITERS):
        pi = (
            pi.join(m, pi.state == m.src)
            .groupBy("dst")
            .agg(F.expr(f"sum(p * p_ppb) div {_PPB}").alias("p"))
            .select(F.col("dst").alias("state"), "p")
        )
    return (
        pi.join(tot, pi.state == tot.src)
        .select(
            "state",
            F.col("p").alias("stationary_ppb"),
            F.col("row_n").alias("n_out_transitions"),
        )
    )


# ---------------------------------------------------------------------------
# Equi-depth binning (quantile-edge feature discretization)
# ---------------------------------------------------------------------------

_N_BINS = 8
_BIN_QS = [i / _N_BINS for i in range(1, _N_BINS)]  # 0.125 .. 0.875, dyadic


@query(
    "q179_equidepth_bins",
    oracle=f"""
    WITH e AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice,
                           {[i / _N_BINS for i in range(1, _N_BINS)]}) AS es
      FROM lineitem GROUP BY l_returnflag
    ),
    b AS (
      SELECT l.l_returnflag,
             CAST(1 + len(list_filter(e.es, x -> l.l_extendedprice >= x))
                  AS BIGINT) AS bin,
             l.l_extendedprice AS price
      FROM lineitem l JOIN e ON l.l_returnflag = e.l_returnflag
    )
    SELECT l_returnflag, bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(price) AS lo,
           MAX(price) AS hi,
           CAST(CAST(SUM(CAST(price AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE)
             AS price_sum
    FROM b
    GROUP BY l_returnflag, bin
    """,
    tags=("agg", "percentile", "binning"),
)
def q179_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth feature discretization: per group, compute the
    {_N_BINS}-quantile EDGES once (exact interpolated percentiles —
    the q99 surface), then assign every row its bin map-side by
    comparing against the broadcast edge array, and emit per-bin
    occupancy + value range + exact-decimal sum. This is the
    two-phase shape a feature store uses at 100 TB: the edges are a
    |groups| x {_N_BINS - 1} frame computed in one aggregation and
    REUSABLE (training/serving skew-free binning), and assignment
    never shuffles the corpus — only the final per-(group, bin)
    aggregation does, onto a |groups| x {_N_BINS} key space.

    Exactness: quantile fractions are dyadic (i/{_N_BINS} — exact
    doubles), interpolation is the same (1-h)*lo + h*hi tree both
    engines evaluate identically (proven by q99), and bin assignment
    counts edges <= value with >= comparisons on identical doubles.
    Bin sums ride the exact-decimal VARCHAR route.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    edges = li.groupBy("l_returnflag").agg(
        F.percentile(
            "l_extendedprice",
            F.array(*[F.lit(q) for q in _BIN_QS]),
        ).alias("es")
    )
    binned = li.join(F.broadcast(edges), "l_returnflag").select(
        "l_returnflag",
        (
            F.lit(1)
            + F.aggregate(
                F.col("es"),
                F.lit(0),
                lambda acc, e: acc
                + F.when(F.col("l_extendedprice") >= e, 1).otherwise(0),
            )
        )
        .cast("long")
        .alias("bin"),
        F.col("l_extendedprice").alias("price"),
    )
    return binned.groupBy("l_returnflag", "bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("price").alias("lo"),
        F.max("price").alias("hi"),
        to_double(F.sum(dec(F.col("price")))).alias("price_sum"),
    )


# ---------------------------------------------------------------------------
# Median absolute deviation (robust scale estimate; q112's companion)
# ---------------------------------------------------------------------------


@query(
    "q181_mad_robust_stats",
    oracle="""
    WITH med AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.5) AS med_price
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ANY_VALUE(m.med_price) AS median_price,
           quantile_cont(abs(l.l_extendedprice - m.med_price), 0.5) AS mad
    FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    GROUP BY l.l_returnflag
    """,
    tags=("agg", "percentile", "robust"),
)
def q181_mad_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust scale estimate
    (MAD) that pairs with q112's trimmed mean for outlier-resistant
    pipeline monitoring: median of |x - median(x)|. Two percentile
    phases: the per-group medians are a |groups|-row frame, broadcast
    back so deviation scoring is map-side; the second (MAD) percentile
    then runs per group.

    Exactness: both medians are the same (1-h)*lo+h*hi interpolation
    q99 pins across engines; the deviation |x - m| is one IEEE
    subtract + abs on identical doubles — every intermediate is
    bit-identical by construction, no aggregation-order dependence
    (percentile sorts its group).

    Scale: groups bounded (|returnflag| = 3); exact per-group
    percentiles materialize group values (the priced q99 trade) —
    swap in approx_percentile when groups are unbounded.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("med_price")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .select(
            "l_returnflag",
            "med_price",
            F.abs(F.col("l_extendedprice") - F.col("med_price")).alias("dev"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.any_value("med_price").alias("median_price"),
            F.percentile("dev", F.lit(0.5)).alias("mad"),
        )
    )


# ---------------------------------------------------------------------------
# Gini-impurity split scan (the decision-tree-node primitive)
# ---------------------------------------------------------------------------

_GINI_PPM = 1_000_000


@query(
    "q182_gini_best_split",
    oracle=f"""
    WITH lab AS (
      SELECT l_quantity AS q,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    lv AS (
      SELECT q, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS c1
      FROM lab GROUP BY q
    ),
    cum AS (
      SELECT q,
             CAST(SUM(n) OVER w AS BIGINT) AS nl,
             CAST(SUM(c1) OVER w AS BIGINT) AS c1l,
             CAST(SUM(n) OVER () AS BIGINT) AS nt,
             CAST(SUM(c1) OVER () AS BIGINT) AS c1t
      FROM lv
      WINDOW w AS (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT q AS threshold, nl AS n_left, nt - nl AS n_right,
           CAST((
             nl * ((nl * nl - c1l * c1l - (nl - c1l) * (nl - c1l))
                   * {_GINI_PPM} // (nl * nl))
             + (nt - nl) * (((nt - nl) * (nt - nl)
                   - (c1t - c1l) * (c1t - c1l)
                   - ((nt - nl) - (c1t - c1l)) * ((nt - nl) - (c1t - c1l)))
                   * {_GINI_PPM} // ((nt - nl) * (nt - nl)))
           ) // nt AS BIGINT) AS gini_ppm
    FROM cum WHERE nl < nt
    """,
    tags=("window", "agg", "ml"),
)
def q182_gini_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-impurity split scan — the inner loop of decision-tree
    induction, run declaratively: for every candidate threshold of
    l_quantity, the weighted Gini impurity of splitting the
    (l_returnflag = 'R') label at `value <= threshold`. One corpus
    aggregation collapses the data to per-LEVEL (n, positives) rows —
    a |distinct levels|-sized frame — and a cumulative window over the
    ordered levels yields every split's left/right counts in one pass
    (the q167 cumulative rewrite; no per-threshold rescan, which is
    the textbook O(levels x corpus) trap). argmin over the output
    picks the split.

    Exactness: gini = 1 - p0² - p1² computed as the integer identity
    (n² - c1² - c0²) * 1e6 div n², weighted by exact counts and
    divided once — all int64, order-free. Headroom: nl² * 1e6 needs
    group sizes < 3e6 per side... (sf0.1: 6e5). For larger corpora
    scale the identity by per-level reduction first (the level frame,
    not the corpus, is what the window sees — reduce keyspace stays
    |levels|); the ppm resolution, not the algorithm, is the limit.

    Scale: corpus touched once (hash agg, map-side partials); the
    window runs over |levels| rows (~50) in a single tiny task.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("q"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    return gini_split_scan(li)


def gini_split_scan(df: DataFrame) -> DataFrame:
    """Reusable split scan over a (q: numeric feature, y: 0/1 label)
    frame: every threshold's weighted Gini in ppm via the cumulative
    rewrite (see q182's docstring for the algebra and scale notes).
    Property-tested against a per-threshold brute-force evaluation in
    tests/test_gini_property.py."""
    lv = df.groupBy("q").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").cast("long").alias("c1")
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    cum = lv.select(
        "q",
        F.sum("n").over(w).alias("nl"),
        F.sum("c1").over(w).alias("c1l"),
        F.sum("n").over(wt).alias("nt"),
        F.sum("c1").over(wt).alias("c1t"),
    )
    return cum.filter(F.col("nl") < F.col("nt")).select(
        F.col("q").alias("threshold"),
        F.col("nl").alias("n_left"),
        (F.col("nt") - F.col("nl")).alias("n_right"),
        F.expr(
            f"("
            f" nl * ((nl * nl - c1l * c1l - (nl - c1l) * (nl - c1l))"
            f"       * {_GINI_PPM} div (nl * nl))"
            f" + (nt - nl) * (((nt - nl) * (nt - nl)"
            f"       - (c1t - c1l) * (c1t - c1l)"
            f"       - ((nt - nl) - (c1t - c1l)) * ((nt - nl) - (c1t - c1l)))"
            f"       * {_GINI_PPM} div ((nt - nl) * (nt - nl)))"
            f") div nt"
        ).alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# Simpson diversity index (entropy-free concentration readout)
# ---------------------------------------------------------------------------


@query(
    "q183_simpson_diversity",
    oracle=f"""
    WITH ct AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST((SUM(c) * SUM(c) - SUM(c * c)) * {_GINI_PPM}
                // (SUM(c) * SUM(c)) AS BIGINT) AS simpson_ppm
    FROM ct
    GROUP BY user_id
    """,
    tags=("agg", "diversity"),
)
def q183_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity index per user over their event-type mix:
    1 - sum(p_i²), the entropy-free concentration measure (0 = every
    event the same type, -> 1 = evenly spread) — the behavioral
    specialist/generalist readout, and the same algebra a curation
    pipeline uses to score source-mix diversity. Shannon entropy
    needs log (banned from the checkable surface); Simpson is a
    RATIONAL function of counts, so the integer identity
    (n² - sum(c_i²)) * 1e6 div n² is exact on both engines.

    Scale: two stacked hash aggregations, each with map-side
    partials — the first Exchange carries per-partition distinct
    (user, type) counts, the second only the reduced
    |users| x |types| frame; per-user state is |types|-bounded. Headroom: n² * 1e6 needs
    per-user event counts < 3e6 (...a user with more events than
    that is a bot you've already filtered).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    ct = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    return ct.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.expr(
            f"(sum(c) * sum(c) - sum(c * c)) * {_GINI_PPM}"
            f" div (sum(c) * sum(c))"
        ).alias("simpson_ppm"),
    )


# ---------------------------------------------------------------------------
# Weighted percentiles (segmented two-level prefix scan — q173's pattern)
# ---------------------------------------------------------------------------

_WBAND = 1000  # price band width for the segmented cumulative scan


@query(
    "q185_weighted_percentiles",
    oracle="""
    WITH r AS (
      SELECT l_returnflag AS rf, l_extendedprice AS p,
             CAST(floor(l_quantity) AS BIGINT) AS w
      FROM lineitem
    ),
    tot AS (SELECT rf, CAST(SUM(w) AS BIGINT) AS tw FROM r GROUP BY rf),
    c AS (
      SELECT rf, p,
             CAST(SUM(w) OVER (PARTITION BY rf ORDER BY p
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
      FROM r
    )
    SELECT c.rf AS l_returnflag, t.tw AS total_weight,
           MIN(CASE WHEN 4 * cw >= t.tw THEN p END) AS wp25,
           MIN(CASE WHEN 2 * cw >= t.tw THEN p END) AS wp50,
           MIN(CASE WHEN 4 * cw >= 3 * t.tw THEN p END) AS wp75
    FROM c JOIN tot t ON c.rf = t.rf
    GROUP BY c.rf, t.tw
    """,
    tags=("window", "percentile", "agg"),
)
def q185_weighted_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (lower) quartiles of price, weighted by quantity — the
    inventory-weighted price distribution, where each row counts w
    times. Definition: wq(f) = the smallest price whose cumulative
    weight reaches fraction f of total weight (lower weighted
    percentile — pure integer threshold tests, no interpolation, so
    the check is exact by construction).

    Scale — the reason this query exists: the textbook formulation is
    a GLOBAL ordered cumulative weight per group (the oracle's
    single-partition window, fine for DuckDB, a scale trap for a
    3-group corpus in Spark). The plan SEGMENTS the scan exactly like
    q173: per-(group, price-band) weight sums aggregate map-side; the
    band-level carry-in is a cumulative window over the tiny
    |groups| x |bands| frame; the within-band running weight is
    PARTITIONED BY (group, band) — fully parallel; thresholds then
    evaluate row-local against the broadcast totals.

    Tie robustness: rows tied on price may order arbitrarily inside
    the running sum, but the OUTPUT is min(price) over threshold
    crossings — the last row of a tie group carries the whole group's
    cumulative weight, so which tied row crosses first never changes
    the reported price.
    """
    r = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        F.col("l_extendedprice").alias("p"),
        F.floor("l_quantity").cast("long").alias("w"),
    )
    return weighted_lower_percentiles(r, band_width=_WBAND).select(
        F.col("rf").alias("l_returnflag"),
        F.col("tw").alias("total_weight"),
        "wp25",
        "wp50",
        "wp75",
    )


def weighted_lower_percentiles(
    df: DataFrame, band_width: float = _WBAND
) -> DataFrame:
    """Reusable weighted lower quartiles over an (rf: group, p: value,
    w: int64 weight) frame via the segmented two-level prefix scan
    (see q185's docstring). Returns (rf, tw, wp25, wp50, wp75).
    Property-tested against a sorted brute-force evaluation in
    tests/test_gini_property.py."""
    r = df.withColumn("band", F.expr(f"cast(floor(p / {band_width}) as bigint)"))
    band_w = r.groupBy("rf", "band").agg(F.sum("w").alias("bw"))
    w_bands = Window.partitionBy("rf").orderBy("band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = band_w.select(
        "rf",
        "band",
        F.coalesce(F.sum("bw").over(w_bands), F.lit(0)).alias("carry_in"),
    )
    tot = band_w.groupBy("rf").agg(F.sum("bw").alias("tw"))
    w_in = (
        Window.partitionBy("rf", "band")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        r.withColumn("run", F.sum("w").over(w_in))
        .join(F.broadcast(carry), ["rf", "band"])
        .join(F.broadcast(tot), "rf")
        .select("rf", "p", (F.col("carry_in") + F.col("run")).alias("cw"), "tw")
    )
    return cum.groupBy("rf", "tw").agg(
        F.min(F.when(4 * F.col("cw") >= F.col("tw"), F.col("p"))).alias("wp25"),
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("p"))).alias("wp50"),
        F.min(F.when(4 * F.col("cw") >= 3 * F.col("tw"), F.col("p"))).alias("wp75"),
    )


# ---------------------------------------------------------------------------
# Join-key skew profile (the pre-join observability readout)
# ---------------------------------------------------------------------------


def _skew_profile_sql(key: str) -> str:
    return f"""
    SELECT '{key}' AS key_name,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(c) AS BIGINT) AS max_cnt,
           CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_cnt,
           quantile_cont(CAST(c AS DOUBLE), 0.5) AS p50_cnt,
           quantile_cont(CAST(c AS DOUBLE), 0.99) AS p99_cnt,
           MIN(k) FILTER (WHERE c = (SELECT MAX(c) FROM cnt_{key})) AS top_key
    FROM cnt_{key}
    """


@query(
    "q186_key_skew_profile",
    oracle=f"""
    WITH cnt_l_partkey AS (
      SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY l_partkey
    ),
    cnt_l_suppkey AS (
      SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY l_suppkey
    )
    {_skew_profile_sql("l_partkey")}
    UNION ALL
    {_skew_profile_sql("l_suppkey")}
    """,
    tags=("agg", "profile", "skew"),
)
def q186_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile — the observability readout you run
    BEFORE keying a 100 TB shuffle: for each candidate join key, the
    per-key cardinality distribution (row/key counts, max, mean,
    exact p50/p99) and the heaviest key itself (min key id among
    ties). max_cnt/avg_cnt is the skew ratio that decides between a
    plain shuffle join, AQE skew splitting, and an explicit salt
    (operators/skew.py) — this query turns that decision into data.

    Exactness: counts are exact int64; avg is ONE double division of
    exact ints; p50/p99 are the q99-pinned interpolation over per-key
    counts cast to double; top key via min-over-ties needs no window.

    Scale: per key column, one corpus hash agg (map-side partials)
    down to the |keys| frame, then a single |keys|-sized profile
    aggregation; profiled keys here are bounded dimensions of the
    fact table. The second profile pass is |keys|-sized — the scan
    cost IS the profile cost, as it should be.
    """
    li = load_table(spark, sf_dir, "lineitem")

    # top key via min-over-ties against the broadcast max — needs no
    # window and stays deterministic under count ties
    def profile(key: str) -> DataFrame:
        cnt = li.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).alias("c")
        ).localCheckpoint(eager=False)
        mx = cnt.agg(F.max("c").alias("mc"))
        top = (
            cnt.join(F.broadcast(mx), cnt.c == mx.mc)
            .agg(F.min("k").alias("top_key"))
        )
        return (
            cnt.agg(
                F.sum("c").alias("n_rows"),
                F.count(F.lit(1)).alias("n_keys"),
                F.max("c").alias("max_cnt"),
                (
                    F.sum("c").cast("double") / F.count(F.lit(1)).cast("double")
                ).alias("avg_cnt"),
                F.percentile(F.col("c").cast("double"), F.lit(0.5)).alias(
                    "p50_cnt"
                ),
                F.percentile(F.col("c").cast("double"), F.lit(0.99)).alias(
                    "p99_cnt"
                ),
            )
            .crossJoin(F.broadcast(top))
            .select(F.lit(key).alias("key_name"), "*")
        )

    return profile("l_partkey").unionByName(profile("l_suppkey"))


# ---------------------------------------------------------------------------
# CUSUM change-point detection (segmented prefix scan, third application)
# ---------------------------------------------------------------------------

_HOUR_US_CP = 3_600_000_000


@query(
    "q187_cusum_changepoint",
    oracle="""
    WITH r AS (
      SELECT event_type,
             CAST(epoch_us(ts) AS BIGINT) AS t_us,
             event_id,
             CAST(floor(value * 100) AS BIGINT) AS v
      FROM events
    ),
    tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS tv
      FROM r GROUP BY event_type
    ),
    c AS (
      SELECT event_type, t_us,
             CAST(SUM(v) OVER w AS BIGINT) AS cs,
             CAST(COUNT(*) OVER w AS BIGINT) AS rn
      FROM r
      WINDOW w AS (PARTITION BY event_type ORDER BY t_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    d AS (
      SELECT c.event_type, c.t_us,
             abs(t.n * c.cs - c.rn * t.tv) AS ad
      FROM c JOIN tot t ON c.event_type = t.event_type
    ),
    m AS (SELECT event_type, CAST(MAX(ad) AS BIGINT) AS md
          FROM d GROUP BY event_type)
    SELECT d.event_type, t.n AS n_events, m.md AS max_dev,
           CAST(MIN(d.t_us) AS BIGINT) AS cp_ts_us
    FROM d
    JOIN m ON m.event_type = d.event_type AND d.ad = m.md
    JOIN tot t ON t.event_type = d.event_type
    GROUP BY d.event_type, t.n, m.md
    """,
    tags=("window", "time", "changepoint"),
)
def q187_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event type: the time at which
    the cumulative deviation from the global mean peaks — the
    classic single-change-point estimator (where did the level
    shift?), reported with its peak deviation statistic. Division-free
    integers: the statistic |prefix_sum - t/N * total| is scaled by N
    to D_t = |N * prefix_t - t * total| (same argmax), so every
    intermediate is an exact int64 product of exact counts/sums.
    Ties on D break to the EARLIEST time (min over crossing rows —
    no window needed).

    Scale: a global ordered prefix per type is the q173/q185 trap;
    the same two-level decomposition applies — per-(type, hour)
    (count, sum) aggregate map-side, hour-level carry over the tiny
    per-type hour frame, within-hour running sums PARTITIONED BY
    (type, hour). Peak + argmin-tie resolve via one |corpus|->
    |types| aggregation and a broadcast join back.

    Headroom: N * prefix needs n_events * total_cents < 2^63 —
    fine to ~1e7 events at 1e4 cents each (9e17); past that, segment
    the detector per day/shard (change points are local anyway).
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id", "ts", "value")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    r = ev.select(
        "event_type",
        "event_id",
        us.alias("t_us"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
    ).withColumn("hour_id", F.expr(f"t_us div {_HOUR_US_CP}"))
    hour_agg = r.groupBy("event_type", "hour_id").agg(
        F.count(F.lit(1)).alias("hn"), F.sum("v").alias("hs")
    )
    w_hours = Window.partitionBy("event_type").orderBy("hour_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = hour_agg.select(
        "event_type",
        "hour_id",
        F.coalesce(F.sum("hn").over(w_hours), F.lit(0)).alias("carry_n"),
        F.coalesce(F.sum("hs").over(w_hours), F.lit(0)).alias("carry_s"),
    )
    tot = hour_agg.groupBy("event_type").agg(
        F.sum("hn").alias("n"), F.sum("hs").alias("tv")
    )
    w_in = (
        Window.partitionBy("event_type", "hour_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = (
        r.withColumn("run_n", F.count(F.lit(1)).over(w_in))
        .withColumn("run_s", F.sum("v").over(w_in))
        .join(F.broadcast(carry), ["event_type", "hour_id"])
        .join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "t_us",
            "n",
            F.abs(
                F.col("n") * (F.col("carry_s") + F.col("run_s"))
                - (F.col("carry_n") + F.col("run_n")) * F.col("tv")
            ).alias("ad"),
        )
        .localCheckpoint(eager=False)  # feeds the max agg AND the tie join
    )
    m = d.groupBy("event_type").agg(F.max("ad").alias("md"))
    return (
        d.join(F.broadcast(m), "event_type")
        .filter(F.col("ad") == F.col("md"))
        .groupBy("event_type")
        .agg(
            F.any_value("n").alias("n_events"),
            F.any_value("md").alias("max_dev"),
            F.min("t_us").alias("cp_ts_us"),
        )
    )


# ---------------------------------------------------------------------------
# Conversion-path mining (trigram prefixes and their purchase lift)
# ---------------------------------------------------------------------------

_PATH_MIN_N = 20


@query(
    "q189_conversion_paths",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS t0,
             LEAD(event_type, 1) OVER w AS t1,
             LEAD(event_type, 2) OVER w AS t2,
             LEAD(event_type, 3) OVER w AS nxt
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tri AS (
      SELECT t0, t1, t2,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN nxt = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_conv
      FROM seq WHERE t2 IS NOT NULL AND nxt IS NOT NULL
      GROUP BY t0, t1, t2
    ),
    base AS (
      SELECT CAST(SUM(n_conv) * 1000000 // SUM(n) AS BIGINT) AS base_ppm
      FROM tri
    )
    SELECT t0, t1, t2, n, n_conv,
           CAST(n_conv * 1000000 // n AS BIGINT) AS conv_ppm,
           CAST((n_conv * 1000000 // n) * 1000 // base.base_ppm AS BIGINT)
             AS lift_pml
    FROM tri CROSS JOIN base
    WHERE n >= {_PATH_MIN_N}
    """,
    tags=("window", "mining", "funnel"),
)
def q189_conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-path mining: for every 3-event behavioral prefix
    (t0, t1, t2) a user walks, the probability that their NEXT event
    is a purchase, and its LIFT over the base next-event conversion
    rate — "which journeys convert". This is the sequence-mining
    readout funnels can't give (funnels fix the path; this ranks all
    observed paths), and the supervised counterpart of q178's
    unconditional transition model.

    Exact integers: per-path counts, conv ppm by truncated division,
    lift in per-mille via one further division against the broadcast
    base rate. Paths with n < {_PATH_MIN_N} are cut (rate estimates
    below that support are noise, and the cut keeps the output
    |types|³-bounded with meaningful rows).

    Scale: ONE user-partitioned window pass (three leads share the
    q148/q161 Exchange), then a hash aggregation onto the
    |types|³-bounded path key space; the base rate derives from the
    reduced path frame (not a second corpus pass) and broadcasts.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t0"),
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead("event_type", 3).over(w).alias("nxt"),
    )
    tri = (
        seq.filter(F.col("t2").isNotNull() & F.col("nxt").isNotNull())
        .groupBy("t0", "t1", "t2")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("nxt") == "purchase", 1).otherwise(0)).alias(
                "n_conv"
            ),
        )
        .localCheckpoint(eager=False)  # feeds base rate AND the output
    )
    base = tri.agg(
        F.expr("sum(n_conv) * 1000000 div sum(n)").alias("base_ppm")
    )
    return (
        tri.crossJoin(F.broadcast(base))
        .filter(F.col("n") >= _PATH_MIN_N)
        .select(
            "t0",
            "t1",
            "t2",
            "n",
            "n_conv",
            F.expr("n_conv * 1000000 div n").alias("conv_ppm"),
            F.expr("(n_conv * 1000000 div n) * 1000 div base_ppm").alias(
                "lift_pml"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Rolling 7-day distinct users (exact, via contribution expansion)
# ---------------------------------------------------------------------------

_DAY_US_RD = 86_400_000_000
_ROLL_DAYS = 7


@query(
    "q190_rolling_distinct_users",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(ts) AS BIGINT) // {_DAY_US_RD} AS day_id
      FROM events
    ),
    days AS (SELECT DISTINCT day_id FROM ud),
    dau AS (
      SELECT day_id, CAST(COUNT(*) AS BIGINT) AS dau1 FROM ud GROUP BY day_id
    )
    SELECT d.day_id, dau.dau1,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS dau{_ROLL_DAYS}
    FROM days d
    JOIN ud u ON u.day_id BETWEEN d.day_id - {_ROLL_DAYS - 1} AND d.day_id
    JOIN dau ON dau.day_id = d.day_id
    GROUP BY d.day_id, dau.dau1
    """,
    tags=("agg", "time", "distinct"),
)
def q190_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling {_ROLL_DAYS}-day distinct users per day (the
    WAU-style engagement series) WITHOUT a range join: each (user,
    active-day) pair CONTRIBUTES to the {_ROLL_DAYS} window-end days
    it falls inside (a bounded explode), and the rolling distinct
    becomes a plain per-day distinct count of contributions. The
    oracle deliberately uses the textbook inequality-join
    formulation — two independent derivations of the same series.

    Distinct counts don't decompose over sliding windows (a user
    active on 3 days still counts once), which is why the naive
    approach is a per-day range scan; the contribution expansion
    turns it into {_ROLL_DAYS} x |user-days| rows with exact
    semantics. Output days are restricted to OBSERVED days (windows
    ending on silent days are the gap-fill operator's job, q135).

    Scale: one distinct to |user-days| (map-side partials), a
    {_ROLL_DAYS}x map-side explode of that REDUCED frame (never the
    raw corpus), one distinct-count per window-end day; the daily
    dau1 series derives from the same user-day frame.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    ud = (
        ev.select(
            "user_id",
            F.expr(
                f"unix_micros(cast(ts as timestamp)) div {_DAY_US_RD}"
            ).alias("day_id"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds dau1 and the expansion
    )
    dau1 = ud.groupBy("day_id").agg(F.count(F.lit(1)).alias("dau1"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day_id"), F.col("day_id") + F.lit(_ROLL_DAYS - 1))
        ).alias("wend"),
    )
    rolled = (
        contrib.groupBy("wend")
        .agg(F.count_distinct("user_id").alias(f"dau{_ROLL_DAYS}"))
        .withColumnRenamed("wend", "day_id")
    )
    return (
        dau1.join(rolled, "day_id")
        .select("day_id", "dau1", f"dau{_ROLL_DAYS}")
    )


# ---------------------------------------------------------------------------
# Linear-interpolation resampling (regular-grid imputation per series)
# ---------------------------------------------------------------------------

_GRID_US = 3_600_000_000  # 1-hour resample grid


@query(
    "q191_linear_resample",
    oracle=f"""
    WITH obs AS (
      SELECT user_id,
             CAST(epoch_us(ts) AS BIGINT) AS t_us,
             CAST(floor(value * 100) AS BIGINT) AS v,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    -- one observation per instant: the LAST event at a tied µs wins
    -- (max rn), matching the engine's last-observation-carried rule
    o AS (
      SELECT user_id, t_us, v FROM (
        SELECT user_id, t_us, v,
               ROW_NUMBER() OVER (PARTITION BY user_id, t_us
                                  ORDER BY rn DESC) AS k
        FROM obs) WHERE k = 1
    ),
    seg AS (
      SELECT user_id, t_us AS t0, v AS v0,
             LEAD(t_us) OVER w AS t1, LEAD(v) OVER w AS v1
      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t_us)
    ),
    grid AS (
      SELECT user_id, t0, v0, t1, v1,
             unnest(generate_series(
               (t0 + {_GRID_US} - 1) // {_GRID_US},
               (t1 - 1) // {_GRID_US})) AS gslot
      FROM seg WHERE t1 IS NOT NULL
    ),
    pts AS (
      SELECT user_id,
             v0 + (v1 - v0) * (gslot * {_GRID_US} - t0) // (t1 - t0) AS vi
      FROM grid
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(vi) AS BIGINT) AS sum_interp,
           CAST(MIN(vi) AS BIGINT) AS min_interp,
           CAST(MAX(vi) AS BIGINT) AS max_interp
    FROM pts GROUP BY user_id
    """,
    tags=("window", "time", "imputation"),
)
def q191_linear_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling to a regular 1-hour grid: per
    user series, every grid instant strictly inside an observation
    segment [t0, t1) gets v0 + (v1-v0)·(g-t0) div (t1-t0) — the
    imputation step that turns an irregular event stream into the
    regular series a forecasting model trains on (q135's gap-fill
    zero-fills CLOSED hourly sums; this interpolates the LEVEL
    between observations). Grid points landing exactly on an
    observation take its value (the interpolation identity at
    offset 0 — one formula, no special case). At a tied timestamp
    the LAST event (event-id order) defines the level, pinned in
    both engines by an explicit per-instant dedup.

    All arithmetic is int64 (cents × µs with one truncated division
    per point; both engines truncate toward zero — the _km_ctes
    discipline); the per-user rollup (count/sum/min/max) pins every
    interpolated value through the order-free sum while keeping the
    checked frame |users|-sized.

    Scale: ONE user-partitioned window chain (per-instant dedup +
    lead share the Exchange); grid expansion is a map-side
    generate bounded by span/grid per segment; the rollup reuses
    the user partitioning. Headroom: (v1-v0)·(g-t0) needs
    level-delta · segment-span < 2^63 — 1e6 cents over a year is
    3e19... cap segments via session splits past ~3e5-cent deltas,
    or widen the grid (the product scales down linearly).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    obs = ev.select(
        "user_id",
        "event_id",
        us.alias("t_us"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
    )
    w_tie = Window.partitionBy("user_id", "t_us").orderBy(
        F.col("event_id").desc()
    )
    o = (
        obs.withColumn("k", F.row_number().over(w_tie))
        .filter(F.col("k") == 1)
        .drop("k", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("t_us")
    seg = o.select(
        "user_id",
        F.col("t_us").alias("t0"),
        F.col("v").alias("v0"),
        F.lead("t_us").over(w).alias("t1"),
        F.lead("v").over(w).alias("v1"),
    ).filter(F.col("t1").isNotNull())
    # guard ga <= gb: Spark's sequence() flips to a DESCENDING range
    # when start > end (sub-grid segments), where DuckDB's
    # generate_series is empty — filter the gridless segments first
    pts = seg.select(
        "user_id",
        F.expr(f"(t0 + {_GRID_US} - 1) div {_GRID_US}").alias("ga"),
        F.expr(f"(t1 - 1) div {_GRID_US}").alias("gb"),
        "t0",
        "v0",
        "t1",
        "v1",
    ).filter(F.col("ga") <= F.col("gb")).select(
        "user_id",
        F.explode(F.sequence(F.col("ga"), F.col("gb"))).alias("gslot"),
        "t0",
        "v0",
        "t1",
        "v1",
    ).select(
        "user_id",
        F.expr(
            f"v0 + (v1 - v0) * (gslot * {_GRID_US} - t0) div (t1 - t0)"
        ).alias("vi"),
    )
    return pts.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("vi").alias("sum_interp"),
        F.min("vi").alias("min_interp"),
        F.max("vi").alias("max_interp"),
    )


# ---------------------------------------------------------------------------
# Cohort LTV curves (cumulative revenue per cohort user by week index)
# ---------------------------------------------------------------------------

_WEEK_US = 7 * 86_400_000_000


@query(
    "q192_cohort_ltv",
    oracle=f"""
    WITH fw AS (
      SELECT user_id,
             CAST(MIN(epoch_us(ts)) AS BIGINT) // {_WEEK_US} AS cohort_week
      FROM events GROUP BY user_id
    ),
    cs AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_users
           FROM fw GROUP BY cohort_week),
    rev AS (
      SELECT f.cohort_week,
             CAST(epoch_us(e.ts) AS BIGINT) // {_WEEK_US} - f.cohort_week
               AS week_index,
             CAST(SUM(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM events e JOIN fw f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY f.cohort_week, week_index
    )
    SELECT r.cohort_week, r.week_index, c.cohort_users, r.rev_cents,
           CAST(SUM(r.rev_cents) OVER (PARTITION BY r.cohort_week
                                       ORDER BY r.week_index
                                       ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_rev_cents,
           CAST(CAST(SUM(r.rev_cents) OVER (PARTITION BY r.cohort_week
                                            ORDER BY r.week_index
                                            ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) // c.cohort_users AS BIGINT)
             AS ltv_per_user_cents
    FROM rev r JOIN cs c ON c.cohort_week = r.cohort_week
    """,
    tags=("window", "time", "cohort", "agg"),
)
def q192_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: users cohorted by first-event week; for each
    (cohort, weeks-since-acquisition) cell, the cohort's purchase
    revenue that week, the running cumulative, and cumulative revenue
    PER COHORT USER — the lifetime-value trajectory (q145's retention
    grid with money on it, and the payback-period readout). Exact:
    cents are int64, the cumulative is an ordered window over the
    reduced grid, per-user LTV is one truncated division.

    Scale: first-week frontier is a |users| aggregation; the revenue
    join keys on user_id (frontier broadcasts under AQE once it
    fits); the (cohort, week_index) grid is |weeks|²-bounded, so the
    cumulative window and the per-cohort join are post-reduction.
    Weeks with zero purchases are absent (gap-fill is q135's job —
    the cumulative is correct at every OBSERVED cell regardless).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    )
    fw = ev.groupBy("user_id").agg(
        F.expr(f"min(unix_micros(cast(ts as timestamp))) div {_WEEK_US}").alias(
            "cohort_week"
        )
    )
    cs = fw.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_users"))
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fw, "user_id")
        .select(
            "cohort_week",
            (
                F.expr(f"unix_micros(cast(ts as timestamp)) div {_WEEK_US}")
                - F.col("cohort_week")
            ).alias("week_index"),
            F.floor(F.col("value") * 100).cast("long").alias("v_cents"),
        )
        .groupBy("cohort_week", "week_index")
        .agg(F.sum("v_cents").alias("rev_cents"))
    )
    w = Window.partitionBy("cohort_week").orderBy("week_index").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        rev.join(F.broadcast(cs), "cohort_week")
        .withColumn("cum_rev_cents", F.sum("rev_cents").over(w))
        .select(
            "cohort_week",
            "week_index",
            "cohort_users",
            "rev_cents",
            "cum_rev_cents",
            F.expr("cum_rev_cents div cohort_users").alias(
                "ltv_per_user_cents"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Funnel latency percentiles (conversion-time distribution per cohort)
# ---------------------------------------------------------------------------


@query(
    "q193_funnel_latency_percentiles",
    oracle=f"""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    ),
    lat AS (
      SELECT CAST(epoch_us(v.t_view) AS BIGINT) // {_WEEK_US} AS view_week,
             CAST(epoch_us(p.t_purchase) - epoch_us(v.t_view) AS BIGINT)
               AS lat_us
      FROM p JOIN v ON v.user_id = p.user_id
    )
    SELECT view_week,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           quantile_cont(CAST(lat_us AS DOUBLE), 0.5) AS lat_p50_us,
           quantile_cont(CAST(lat_us AS DOUBLE), 0.9) AS lat_p90_us
    FROM lat GROUP BY view_week
    """,
    tags=("agg", "percentile", "funnel"),
)
def q193_funnel_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency DISTRIBUTION per first-view week: q138
    reports funnel counts and the latency total; operations teams ask
    the next question — "how long does conversion take, and is the
    tail getting worse" — answered here as exact p50/p90 of
    view→purchase latency, cohorted by view week. Same strictly-
    ordered frontier chain as q138 (min view; min click strictly
    after; min purchase strictly after), so the two queries can't
    disagree about who converted; percentiles ride the q99-pinned
    interpolation over exact µs integers cast to double.

    Scale: three filtered |users|-frame aggregations chained on
    user_id (the q138 posture — no window over the log), then one
    |weeks|-group percentile over the converted-users frame.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    lat = p.join(v, "user_id").select(
        F.expr(
            f"unix_micros(cast(t_view as timestamp)) div {_WEEK_US}"
        ).alias("view_week"),
        (
            F.unix_micros(F.col("t_purchase").cast("timestamp"))
            - F.unix_micros(F.col("t_view").cast("timestamp"))
        ).alias("lat_us"),
    )
    return lat.groupBy("view_week").agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.percentile(F.col("lat_us").cast("double"), F.lit(0.5)).alias(
            "lat_p50_us"
        ),
        F.percentile(F.col("lat_us").cast("double"), F.lit(0.9)).alias(
            "lat_p90_us"
        ),
    )


# ---------------------------------------------------------------------------
# Behavioral twins (blocked cosine over event-mix vectors)
# ---------------------------------------------------------------------------

_TWIN_TOPK = 3
_MIX_PPM = 1_000_000


@query(
    "q194_behavioral_twins",
    oracle=f"""
    WITH ct AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id, event_type
    ),
    n AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS nt FROM ct GROUP BY user_id),
    mix AS (
      SELECT ct.user_id, ct.event_type,
             CAST(ct.c * {_MIX_PPM} // n.nt AS BIGINT) AS p
      FROM ct JOIN n ON n.user_id = ct.user_id
    ),
    dom AS (
      SELECT user_id, event_type AS dom_type FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY p DESC, event_type) AS rn
        FROM mix) WHERE rn = 1
    ),
    pairs AS (
      SELECT a.user_id AS ua, b.user_id AS ub, d1.dom_type,
             CAST(SUM(a.p * b.p) AS BIGINT) AS dot
      FROM mix a
      JOIN dom d1 ON d1.user_id = a.user_id
      JOIN mix b ON b.event_type = a.event_type AND b.user_id <> a.user_id
      JOIN dom d2 ON d2.user_id = b.user_id AND d2.dom_type = d1.dom_type
      GROUP BY a.user_id, b.user_id, d1.dom_type
    ),
    ranked AS (
      SELECT ua AS user_id, ub AS twin_id, dom_type, dot,
             row_number() OVER (PARTITION BY ua
                                ORDER BY dot DESC, ub) AS rnk
      FROM pairs
    )
    SELECT user_id, twin_id, dom_type, dot,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_TWIN_TOPK}
    """,
    tags=("similarity", "agg", "blocking"),
)
def q194_behavioral_twins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral twin matching: embed every user as their event-type
    MIX (per-type share of their events, integer ppm — a
    |types|-dimensional behavioral vector built from activity, no
    model needed), then find each user's top-{_TWIN_TOPK} most
    similar users by integer dot product, BLOCKED on the dominant
    event type — the audience-lookalike / cold-start-neighbor
    primitive. Exact: mixes are truncated-division ppm, similarity
    is an int64 dot (sum of {_MIX_PPM}²-bounded products), ranking
    carries full (dot, id) tiebreaks.

    Scale: all-pairs user similarity is quadratic — the block key
    (dominant type) is the LSH-style pigeonhole that bounds the pair
    space to within-block (same posture as q96's byte-band blocking
    and q180's cells: sum of m² over blocks, never n²); a true
    deployment salts mega-blocks or blocks on (dominant, second)
    pairs — same plan, finer key. Pair dots aggregate over the
    shared-type join (map-side partials); ranking truncates per user
    via WindowGroupLimit.

    Headroom: p·p <= 1e12/term, |types| terms, summed over pairs —
    int64-safe at any corpus size since mixes are bounded.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    ct = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    n = ct.groupBy("user_id").agg(F.sum("c").alias("nt"))
    mix = (
        ct.join(n, "user_id")
        .select(
            "user_id",
            "event_type",
            F.expr(f"c * {_MIX_PPM} div nt").alias("p"),
        )
        .localCheckpoint(eager=False)  # feeds dom, both pair sides
    )
    w_dom = Window.partitionBy("user_id").orderBy(
        F.col("p").desc(), F.col("event_type")
    )
    dom = (
        mix.withColumn("rn", F.row_number().over(w_dom))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("dom_type"))
    )
    a = mix.join(dom, "user_id").select(
        F.col("user_id").alias("ua"), "event_type", F.col("p").alias("pa"), "dom_type"
    )
    b = mix.join(dom, "user_id").select(
        F.col("user_id").alias("ub"), "event_type", F.col("p").alias("pb"), "dom_type"
    )
    pairs = (
        a.join(b, ["dom_type", "event_type"])
        .filter(F.col("ua") != F.col("ub"))
        .groupBy("ua", "ub", "dom_type")
        .agg(F.sum(F.col("pa") * F.col("pb")).alias("dot"))
    )
    w_rank = Window.partitionBy("ua").orderBy(F.col("dot").desc(), F.col("ub"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rnk") <= _TWIN_TOPK)
        .select(
            F.col("ua").alias("user_id"),
            F.col("ub").alias("twin_id"),
            "dom_type",
            "dot",
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# Seasonality profile (hour-of-day x day-of-week activity fingerprint)
# ---------------------------------------------------------------------------


@query(
    "q195_seasonality_profile",
    oracle="""
    WITH r AS (
      SELECT event_type,
             CAST(epoch_us(ts) AS BIGINT) // 3600000000 % 24 AS hod,
             (CAST(epoch_us(ts) AS BIGINT) // 86400000000 + 4) % 7 AS dow,
             CAST(floor(value * 100) AS BIGINT) AS v
      FROM events
    ),
    cell AS (
      SELECT event_type, hod, dow,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS v_cents
      FROM r GROUP BY event_type, hod, dow
    ),
    tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS nt
            FROM cell GROUP BY event_type)
    SELECT c.event_type, c.hod, c.dow, c.n, c.v_cents,
           CAST(c.n * 1000000 // t.nt AS BIGINT) AS share_ppm,
           CASE WHEN c.n = (SELECT MAX(n) FROM cell c2
                            WHERE c2.event_type = c.event_type)
                THEN 1 ELSE 0 END AS is_peak
    FROM cell c JOIN tot t ON t.event_type = c.event_type
    """,
    tags=("agg", "time", "seasonality"),
)
def q195_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality fingerprint: the hour-of-day × day-of-week activity
    matrix per event type (count, value, ppm share of the type's
    traffic, and a peak-cell flag) — the capacity-planning /
    anomaly-baseline readout every ops team keeps, and a 168-cell
    behavioral signature per type. Epoch day 0 (1970-01-01) was a
    Thursday: dow = (day + 4) mod 7 gives 0 = Sunday on both engines
    without any locale-dependent date function (EXTRACT(dow) exists
    in both but disagrees with Spark's dayofweek numbering — integer
    arithmetic sidesteps the trap entirely).

    Scale: one corpus aggregation onto the |types| x 168 key space
    (map-side partials do nearly all the work); shares and the peak
    flag resolve on the reduced frame via a broadcast max per type.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    us = "unix_micros(cast(ts as timestamp))"
    r = ev.select(
        "event_type",
        F.expr(f"{us} div 3600000000 % 24").alias("hod"),
        F.expr(f"({us} div 86400000000 + 4) % 7").alias("dow"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
    )
    cell = (
        r.groupBy("event_type", "hod", "dow")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("v_cents"))
        .localCheckpoint(eager=False)  # feeds totals, max, and output
    )
    tot = cell.groupBy("event_type").agg(F.sum("n").alias("nt"))
    mx = cell.groupBy("event_type").agg(F.max("n").alias("mx"))
    return (
        cell.join(F.broadcast(tot), "event_type")
        .join(F.broadcast(mx), "event_type")
        .select(
            "event_type",
            "hod",
            "dow",
            "n",
            "v_cents",
            F.expr("n * 1000000 div nt").alias("share_ppm"),
            F.when(F.col("n") == F.col("mx"), 1).otherwise(0).cast("int").alias("is_peak"),
        )
    )


# ---------------------------------------------------------------------------
# Flagship composition: leakage-safe feature/label construction
# ---------------------------------------------------------------------------

_FP_HOLDOUT_US = 7 * 86_400_000_000  # label window: the final week
_FP_SHIFT_CAP = 62  # dyadic decay: shifts past 62 are exactly 0 for cents


def _fp_oracle_sql() -> str:
    from target_hdfs_spark.functions.hashing import md5_hash32_sql

    h = md5_hash32_sql("'split|' || CAST(f.user_id AS VARCHAR)")
    return f"""
    WITH anchor AS (
      SELECT CAST(MAX(epoch_us(ts)) AS BIGINT) - {_FP_HOLDOUT_US} AS cutoff
      FROM events
    ),
    e AS (
      SELECT user_id, event_id, event_type,
             CAST(epoch_us(ts) AS BIGINT) AS t_us,
             CAST(floor(value * 100) AS BIGINT) AS v,
             anchor.cutoff
      FROM events CROSS JOIN anchor
    ),
    pre AS (SELECT * FROM e WHERE t_us < cutoff),
    twap AS (
      SELECT user_id,
             CAST(SUM(v * w) // SUM(w) AS BIGINT) AS twap_cents
      FROM (
        SELECT user_id, v,
               LEAD(t_us) OVER (PARTITION BY user_id
                                ORDER BY t_us, event_id) - t_us AS w
        FROM pre
      ) WHERE w IS NOT NULL
      GROUP BY user_id HAVING SUM(w) > 0
    ),
    feat AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT t_us // 86400000000) AS BIGINT)
               AS days_active,
             CAST(SUM(v // (CAST(1 AS BIGINT) << CAST(
                    LEAST((cutoff - t_us) // 86400000000,
                          {_FP_SHIFT_CAP}) AS INT)))
                  AS BIGINT) AS decayed_cents
      FROM pre GROUP BY user_id
    ),
    lab AS (
      SELECT user_id,
             CAST(MAX(CASE WHEN t_us >= cutoff
                           AND event_type = 'purchase'
                      THEN 1 ELSE 0 END) AS BIGINT) AS label
      FROM e GROUP BY user_id
    )
    SELECT f.user_id,
           CASE WHEN {h} % 10 < 8 THEN 'train'
                WHEN {h} % 10 = 8 THEN 'val'
                ELSE 'test' END AS split,
           l.label, f.n_events, f.days_active, f.decayed_cents,
           t.twap_cents
    FROM feat f
    JOIN lab l ON l.user_id = f.user_id
    LEFT JOIN twap t ON t.user_id = f.user_id
    """


@query(
    "q196_feature_pipeline",
    oracle=_fp_oracle_sql(),
    tags=("composition", "features", "ml", "time"),
)
def q196_feature_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship feature-store composition (the events-side counterpart
    of q98's corpus pipeline): one leakage-safe training frame —
    features computed STRICTLY BEFORE a global cutoff (max event time
    minus one week), the label (purchased in the final week) strictly
    AFTER it, and a deterministic hash split — the construction every
    supervised pipeline on event data repeats, with the
    temporal-leakage and split-contamination mistakes made
    structurally impossible (cutoff enforced in the plan, split from
    a salted portable hash, q100/q171 discipline).

    Features per user, all exact int64: pre-cutoff event count,
    distinct active days, recency-decayed value (q175's dyadic
    half-life ANCHORED AT THE CUTOFF — no peeking — and with the
    shift capped at {_FP_SHIFT_CAP}, where cents decay to exactly 0,
    removing q175's documented span limit), and pre-cutoff TWAP
    (q174's interval weighting; NULL for users with fewer than two
    pre-cutoff observations — single-observation exposure is
    undefined, and the left join is part of the contract).

    Scale: the anchor is a 1-row broadcast; the TWAP window and the
    two per-user aggregations all key on user_id (shared partitioning
    under AQE); output is |users|-sized. One corpus pass per feature
    family, no window over anything bigger than a user's history.
    """
    from target_hdfs_spark.functions.hashing import md5_hash32

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", "value"
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    anchor = ev.agg((F.max(us) - F.lit(_FP_HOLDOUT_US)).alias("cutoff"))
    e = ev.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        "event_id",
        "event_type",
        us.alias("t_us"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
        "cutoff",
    )
    pre = e.filter(F.col("t_us") < F.col("cutoff"))
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    twap = (
        pre.select(
            "user_id", "v", (F.lead("t_us").over(w) - F.col("t_us")).alias("w_us")
        )
        .filter(F.col("w_us").isNotNull())
        .groupBy("user_id")
        .agg(F.expr("sum(v * w_us) div sum(w_us)").alias("twap_cents"))
    )
    # features and label FUSE into one conditional aggregation — the
    # pre/post cutoff branches are CASE arms, so the event log is
    # scanned twice total (here + the TWAP window), not three times
    feat_lab = (
        e.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("t_us") < F.col("cutoff"), 1).otherwise(0))
            .alias("n_events"),
            F.count_distinct(
                F.when(
                    F.col("t_us") < F.col("cutoff"),
                    F.expr("t_us div 86400000000"),
                )
            ).alias("days_active"),
            F.expr(
                f"sum(CASE WHEN t_us < cutoff THEN"
                f" v div shiftleft(cast(1 as bigint),"
                f" cast(least((cutoff - t_us) div 86400000000,"
                f" {_FP_SHIFT_CAP}) as int)) END)"
            ).alias("decayed_cents"),
            F.max(
                F.when(
                    (F.col("t_us") >= F.col("cutoff"))
                    & (F.col("event_type") == "purchase"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("label"),
        )
        .filter(F.col("n_events") > 0)  # oracle's pre-only inner join
    )
    h = md5_hash32(F.concat(F.lit("split|"), F.col("user_id").cast("string")))
    return (
        feat_lab.join(twap, "user_id", "left")
        .select(
            "user_id",
            F.when(h % 10 < 8, "train")
            .when(h % 10 == 8, "val")
            .otherwise("test")
            .alias("split"),
            "label",
            "n_events",
            "days_active",
            "decayed_cents",
            "twap_cents",
        )
    )


# ---------------------------------------------------------------------------
# Robust daily anomaly flags (MAD gate over the daily series)
# ---------------------------------------------------------------------------

_MAD_K = 5  # flag days beyond 5 robust deviations


@query(
    "q197_anomaly_days",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS v_cents
      FROM events GROUP BY event_type, day_id
    ),
    med AS (
      SELECT event_type,
             quantile_cont(CAST(v_cents AS DOUBLE), 0.5) AS med_v
      FROM daily GROUP BY event_type
    ),
    mad AS (
      SELECT d.event_type,
             quantile_cont(abs(CAST(d.v_cents AS DOUBLE) - m.med_v), 0.5)
               AS mad_v
      FROM daily d JOIN med m ON m.event_type = d.event_type
      GROUP BY d.event_type
    )
    SELECT d.event_type, d.day_id, d.n, d.v_cents, m.med_v, a.mad_v,
           CASE WHEN abs(CAST(d.v_cents AS DOUBLE) - m.med_v)
                     > {_MAD_K} * a.mad_v
                THEN 1 ELSE 0 END AS is_anomaly
    FROM daily d
    JOIN med m ON m.event_type = d.event_type
    JOIN mad a ON a.event_type = d.event_type
    """,
    tags=("agg", "time", "robust", "anomaly"),
)
def q197_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily anomaly gate: per event type, flag days whose
    value total sits more than {_MAD_K} median-absolute-deviations
    from the series median — q181's MAD machinery applied where
    monitoring actually uses it (daily revenue/traffic series; a
    mean/stddev gate would let one bad day inflate its own
    threshold, the textbook reason MAD exists). The full flagged
    series is emitted (day grain), not just the alarms — the
    dashboard shape.

    Exactness: daily totals are exact int64; both medians are the
    q99-pinned interpolation on identical doubles; the gate is one
    IEEE compare of identically-derived values.

    Scale: one corpus aggregation onto (type, day); everything after
    runs on the |types| x |days| frame (two small percentile aggs,
    broadcast joins back).
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    daily = (
        ev.select(
            "event_type",
            F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias(
                "day_id"
            ),
            F.floor(F.col("value") * 100).cast("long").alias("v"),
        )
        .groupBy("event_type", "day_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("v_cents"))
        .localCheckpoint(eager=False)  # feeds med, mad, and the output
    )
    med = daily.groupBy("event_type").agg(
        F.percentile(F.col("v_cents").cast("double"), F.lit(0.5)).alias("med_v")
    )
    mad = (
        daily.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            F.abs(F.col("v_cents").cast("double") - F.col("med_v")).alias("dev"),
        )
        .groupBy("event_type")
        .agg(F.percentile("dev", F.lit(0.5)).alias("mad_v"))
    )
    return (
        daily.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "day_id",
            "n",
            "v_cents",
            "med_v",
            "mad_v",
            F.when(
                F.abs(F.col("v_cents").cast("double") - F.col("med_v"))
                > F.lit(float(_MAD_K)) * F.col("mad_v"),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# Wilson confidence intervals (segment conversion rates you can trust)
# ---------------------------------------------------------------------------

_WILSON_Z = 1.959963984540054  # 95% two-sided normal quantile, fixed literal
# DuckDB parses bare decimal literals as DECIMAL and constant-folds
# z*z EXACTLY, while Spark's lit() is a double — cast at the literal
# so both engines run the identical IEEE tree
_WZ_SQL = f"CAST({_WILSON_Z} AS DOUBLE)"


@query(
    "q198_wilson_intervals",
    oracle=f"""
    WITH seg AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events GROUP BY user_id
    ),
    b AS (
      SELECT CASE WHEN n < 50 THEN 'low'
                  WHEN n < 80 THEN 'mid'
                  ELSE 'high' END AS activity_band,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(k) AS BIGINT) AS k
      FROM seg GROUP BY activity_band
    )
    SELECT activity_band, n, k,
           (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) AS rate,
           ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
             + {_WZ_SQL} * {_WZ_SQL} / (2.0 * CAST(n AS DOUBLE))
             - {_WZ_SQL} * sqrt(
                 (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                 * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                 / CAST(n AS DOUBLE)
                 + {_WZ_SQL} * {_WZ_SQL}
                   / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
           / (1.0 + {_WZ_SQL} * {_WZ_SQL} / CAST(n AS DOUBLE)) AS ci_lo,
           ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
             + {_WZ_SQL} * {_WZ_SQL} / (2.0 * CAST(n AS DOUBLE))
             + {_WZ_SQL} * sqrt(
                 (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                 * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                 / CAST(n AS DOUBLE)
                 + {_WZ_SQL} * {_WZ_SQL}
                   / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
           / (1.0 + {_WZ_SQL} * {_WZ_SQL} / CAST(n AS DOUBLE)) AS ci_hi
    FROM b
    """,
    tags=("agg", "stats", "ab"),
)
def q198_wilson_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score 95% confidence intervals on per-segment purchase
    rates (users banded by activity): the interval that stays inside
    [0, 1] and behaves at small n, which is why experiment readouts
    use it over the naive Wald interval — q156 answers "is A
    different from B"; this answers "how sure are we about each
    rate". The z quantile is a FIXED literal (no inverse-CDF at run
    time), so the whole interval is a fixed IEEE tree over two exact
    int64 counts: double division, multiply, one sqrt — all
    correctly-rounded and engine-identical (the q156 discipline;
    sqrt is IEEE-exact, unlike the banned transcendentals).

    Scale: one |users| aggregation, one |bands| aggregation — the
    interval math runs on 3 rows.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    seg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "k"
        ),
    )
    b = (
        seg.select(
            F.when(F.col("n") < 50, "low")
            .when(F.col("n") < 80, "mid")
            .otherwise("high")
            .alias("activity_band"),
            "n",
            "k",
        )
        .groupBy("activity_band")
        .agg(F.sum("n").alias("n"), F.sum("k").alias("k"))
    )
    z = F.lit(_WILSON_Z)
    nn = F.col("n").cast("double")
    p = F.col("k").cast("double") / nn
    center = p + z * z / (F.lit(2.0) * nn)
    half = z * F.sqrt(
        p * (F.lit(1.0) - p) / nn + z * z / (F.lit(4.0) * nn * nn)
    )
    denom = F.lit(1.0) + z * z / nn
    return b.select(
        "activity_band",
        "n",
        "k",
        p.alias("rate"),
        ((center - half) / denom).alias("ci_lo"),
        ((center + half) / denom).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Absorbing-chain analysis (expected steps to purchase, value iteration)
# ---------------------------------------------------------------------------

_ABS_ITERS = 4
_ABS_TARGET = "purchase"


def _abs_iter_sql(t: int) -> str:
    """E_{t+1}(s) = 1 + sum_dst P_ppb(s, dst) * E_t(dst) div 1e9 for
    transient states; the target state stays absorbed at 0. States
    whose transition rows all point at absorbed/known states converge
    within the unrolled horizon; E is capped at the horizon
    otherwise (documented partial sums — same on both engines)."""
    return f"""
    e{t + 1} AS (
      SELECT m.src AS state,
             CAST(1000000000 + SUM(m.p_ppb * e{t}.e) // {_PPB} AS BIGINT) AS e
      FROM m JOIN e{t} ON e{t}.state = m.dst
      WHERE m.src <> '{_ABS_TARGET}'
      GROUP BY m.src
      UNION ALL
      SELECT '{_ABS_TARGET}' AS state, CAST(0 AS BIGINT) AS e
    )"""


@query(
    "q199_expected_steps_to_purchase",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS dst
      FROM events
    ),
    c AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
    ),
    tot AS (SELECT src, CAST(SUM(n) AS BIGINT) AS row_n FROM c GROUP BY src),
    m AS (
      SELECT c.src, c.dst, CAST(c.n * {_PPB} // tot.row_n AS BIGINT) AS p_ppb
      FROM c JOIN tot ON c.src = tot.src
    ),
    e0 AS (
      SELECT src AS state,
             CAST(CASE WHEN src = '{_ABS_TARGET}' THEN 0
                       ELSE {_PPB} END AS BIGINT) AS e
      FROM tot
    ),
    {",".join(_abs_iter_sql(t) for t in range(_ABS_ITERS))}
    SELECT state, e AS expected_steps_1e9
    FROM e{_ABS_ITERS}
    """,
    tags=("window", "iterative", "graph", "funnel"),
)
def q199_expected_steps_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-chain value iteration on the learned transition
    matrix (q178's matrix, different question): the expected number
    of steps for each behavioral state to reach '{_ABS_TARGET}',
    {_ABS_ITERS} Bellman updates in 1e9 fixed point — E(s) =
    1 + Σ P(s,·)E(·), absorbed states pinned at 0. Truncating at a
    fixed horizon makes the iterative solve exactly oracle-checkable
    (the q151/q178 discipline) and is also what you'd do at scale: E
    converges geometrically, and the per-iteration error bound is
    the chain's escape probability to the horizon.

    Scale: identical posture to q178 — one corpus window pass for the
    matrix, then S²-bounded joins per unrolled iteration (broadcast
    under AQE); adding iterations adds zero corpus-sized stages.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    c = (
        seq.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    tot = c.groupBy("src").agg(F.sum("n").alias("row_n"))
    m = c.join(tot, "src").select(
        "src", "dst", F.expr(f"n * {_PPB} div row_n").alias("p_ppb")
    )
    e = tot.select(
        F.col("src").alias("state"),
        F.when(F.col("src") == _ABS_TARGET, F.lit(0))
        .otherwise(F.lit(_PPB))
        .cast("long")
        .alias("e"),
    )
    absorbed = e.filter(F.col("state") == _ABS_TARGET).select("state", "e")
    for _ in range(_ABS_ITERS):
        e = (
            m.filter(F.col("src") != _ABS_TARGET)
            .join(e, m.dst == e.state)
            .groupBy("src")
            .agg(
                (F.lit(_PPB) + F.expr(f"sum(p_ppb * e) div {_PPB}")).alias("e")
            )
            .select(F.col("src").alias("state"), "e")
            .unionByName(absorbed)
        )
    return e.select("state", F.col("e").alias("expected_steps_1e9"))


# ---------------------------------------------------------------------------
# Segmented exact NTILE (the distributed global-rank kernel)
# ---------------------------------------------------------------------------

_NT_VBANDS = 64  # value-range fan-out (any count; grows with cluster)
_NT_TBANDS = 64  # tiebreak sub-fan-out inside a tied value run


def segmented_ntile(
    df: DataFrame,
    k: int,
    value_col: str,
    out_col: str,
    *,
    tie_col: str,
    descending: bool = False,
    n_vbands: int = _NT_VBANDS,
    n_tbands: int = _NT_TBANDS,
) -> DataFrame:
    """Exact ``NTILE(k) OVER (ORDER BY value [DESC], tie)`` without a
    single-task global window — the distributed default for global
    quantile scoring (q201/q202), same integers as the SQL window.

    The 1-based global rank is ``banded_cumsum`` with weight 1 (see
    operators/prefix.py for the two-level banded decomposition and
    its monotonicity argument); the whole-frame count n rides the
    kernel's band-total frame — no extra pass.

    NTILE then is pure arithmetic on (rank, n): with q = n div k and
    r = n mod k the first r tiles hold q+1 rows — no second pass. Ties
    across a giant run (e.g. 3e8 users with frequency 1) split across
    ``n_tbands`` running-sum tasks instead of one; a skewed value
    range degrades band balance but never correctness.

    Requires integral (castable-to-long), non-null value/tie columns;
    ``tie_col`` must be row-unique (it completes the total order).
    All other input columns ride through unchanged.
    """
    ranked = banded_cumsum(
        df,
        F.lit(1),
        value_col,
        "__rank",
        tie_col=tie_col,
        descending=descending,
        total_col="__n",
        n_vbands=n_vbands,
        n_tbands=n_tbands,
    )
    tile = F.expr(
        f"CASE WHEN __rank <= (__n % {k}) * (__n div {k} + 1)"
        f" THEN (__rank - 1) div (__n div {k} + 1) + 1"
        f" ELSE (__n % {k})"
        f"      + (__rank - (__n % {k}) * (__n div {k} + 1) - 1)"
        f"        div greatest(__n div {k}, 1) + 1 END"
    )
    return ranked.withColumn(out_col, tile.cast("long")).drop(
        "__rank", "__n"
    )


# ---------------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary quintile scoring)
# ---------------------------------------------------------------------------


@query(
    "q201_rfm_segments",
    oracle="""
    WITH anchor AS (
      SELECT CAST(MAX(epoch_us(ts)) AS BIGINT) AS t_max FROM events
    ),
    u AS (
      SELECT user_id,
             CAST(a.t_max - MAX(epoch_us(ts)) AS BIGINT) AS recency_us,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(value * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS monetary_cents
      FROM events CROSS JOIN anchor a
      GROUP BY user_id, a.t_max
    ),
    scored AS (
      SELECT user_id, recency_us, frequency, monetary_cents,
             CAST(NTILE(5) OVER (ORDER BY recency_us ASC, user_id)
                  AS BIGINT) AS r_score,
             CAST(NTILE(5) OVER (ORDER BY frequency DESC, user_id)
                  AS BIGINT) AS f_score,
             CAST(NTILE(5) OVER (ORDER BY monetary_cents DESC, user_id)
                  AS BIGINT) AS m_score
      FROM u
    )
    SELECT user_id, recency_us, frequency, monetary_cents,
           r_score, f_score, m_score,
           CASE
             WHEN r_score <= 2 AND f_score <= 2 AND m_score <= 2
               THEN 'champion'
             WHEN r_score >= 4 AND f_score <= 2 THEN 'at_risk'
             WHEN r_score <= 2 AND f_score >= 4 THEN 'new'
             ELSE 'regular'
           END AS segment
    FROM scored
    """,
    tags=("window", "segmentation", "agg"),
)
def q201_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer scoring: per user,
    recency (µs since last event, against the corpus anchor),
    frequency (event count), monetary (purchase cents); each scored
    into quintiles (1 = best) and combined into named segments
    (champion / at-risk / new / regular). NTILE is deterministic
    here because every ORDER BY carries the user_id tiebreak — the
    engine's total-ordering discipline making a rank-based business
    metric value-pinnable.

    Scale: the corpus collapses to the |users| RFM frame in one
    conditional aggregation (anchor is a 1-row broadcast; the
    collapsed frame is eagerly checkpointed — it feeds three scoring
    passes). Each quintile score is a ``segmented_ntile`` pass —
    banded two-level exact rank, NEVER an unpartitioned window over
    |users| (at 1e9 users the ntile formulation pushes ~24 GB of rows
    through one window task, three times); the only global windows
    are the 64-row band cumulatives.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    anchor = ev.agg(F.max(us).alias("t_max"))
    u = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            (F.any_value("t_max") - F.max(us)).alias("recency_us"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.floor(F.col("value") * 100).cast("long"),
                ).otherwise(0)
            ).alias("monetary_cents"),
        )
    )
    # each scoring pass consumes its input 3x (stats, group counts,
    # join-back) — lazy-checkpoint the collapsed |users| frame between
    # passes so the three pipelines never re-derive each other
    u = u.localCheckpoint(eager=False)
    scored = segmented_ntile(
        u, 5, "recency_us", "r_score", tie_col="user_id"
    ).localCheckpoint(eager=False)
    scored = segmented_ntile(
        scored, 5, "frequency", "f_score", tie_col="user_id", descending=True
    ).localCheckpoint(eager=False)
    scored = segmented_ntile(
        scored,
        5,
        "monetary_cents",
        "m_score",
        tie_col="user_id",
        descending=True,
    ).select(
        "user_id", "recency_us", "frequency", "monetary_cents",
        "r_score", "f_score", "m_score",
    )
    return scored.select(
        "*",
        F.expr(
            "CASE"
            " WHEN r_score <= 2 AND f_score <= 2 AND m_score <= 2"
            "   THEN 'champion'"
            " WHEN r_score >= 4 AND f_score <= 2 THEN 'at_risk'"
            " WHEN r_score <= 2 AND f_score >= 4 THEN 'new'"
            " ELSE 'regular' END"
        ).alias("segment"),
    )


# ---------------------------------------------------------------------------
# Decile calibration table (score vs outcome, the model-monitoring grid)
# ---------------------------------------------------------------------------


@query(
    "q202_decile_calibration",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS score,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT score, y,
             CAST(NTILE(10) OVER (ORDER BY score DESC, user_id)
                  AS BIGINT) AS decile
      FROM u
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(score) AS BIGINT) AS score_sum,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS rate_ppm
    FROM d GROUP BY decile
    """,
    tags=("window", "ml", "calibration"),
)
def q202_decile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile calibration/lift table: users ranked by a score (their
    activity count stands in for a model score — the plumbing, the
    binning, and the metrics are what this pins), cut into NTILE
    deciles, with per-decile positives and rate — the
    model-monitoring grid behind lift charts and calibration plots
    (does decile 1 actually convert more?). Deterministic via the
    user_id tiebreak; rates are exact integer ppm.

    Scale: one corpus aggregation to the |users| frame; the decile is
    a ``segmented_ntile`` pass (banded two-level exact rank — no
    unpartitioned window over |users|; score=COUNT(*) is exactly the
    heavy-tie case the tiebreak sub-bands exist for); the final
    rollup is 10 rows.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("score"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    )
    # the scoring pass consumes u 3x (stats, group counts, join-back)
    d = segmented_ntile(
        u.localCheckpoint(eager=False),
        10,
        "score",
        "decile",
        tie_col="user_id",
        descending=True,
    ).select("score", "y", "decile")
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("score").alias("score_sum"),
        F.sum("y").alias("n_pos"),
        F.expr("sum(y) * 1000000 div count(1)").alias("rate_ppm"),
    )


# ---------------------------------------------------------------------------
# Exact Gini coefficient (segmented global rank — the capstone of the
# two-level prefix-scan family)
# ---------------------------------------------------------------------------

_GINI_BAND_CENTS = 1_000_000  # $10k revenue bands for the segmented rank


@query(
    "q204_gini_coefficient",
    oracle=f"""
    WITH cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT x,
             CAST(ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS BIGINT) AS i
      FROM cust
    ),
    comp AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(x AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE)
               AS s,
             CAST(CAST(SUM(CAST(i AS DECIMAL(19,0))
                           * CAST(x AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE)
               AS t
      FROM ranked
    )
    SELECT n AS n_customers,
           s AS total_cents,
           (2.0 * t - (CAST(n AS DOUBLE) + 1.0) * s)
             / (CAST(n AS DOUBLE) * s) AS gini
    FROM comp
    """,
    tags=("window", "agg", "concentration"),
)
def q204_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of customer revenue concentration —
    G = (2·Σi·x_i − (n+1)·Σx) / (n·Σx) over ascending-ranked exact
    cent totals. q160 reads off "customers to 80% of revenue"; this
    is the single-number inequality summary next to it.

    The global ascending RANK is the hard part at scale (the oracle's
    one-window formulation is the single-partition trap), so the rank
    is SEGMENTED exactly like q173/q185/q187: per-$10k-band counts
    aggregate map-side, a |bands|-sized cumulative gives each band's
    rank offset, and within-band row_number runs PARTITIONED BY band;
    i = offset + within-rank. Rank ties share a revenue value, so
    Σi·x is invariant to tie order (the tie group contributes
    (Σranks)·x either way) — the statistic is deterministic beyond
    what the row_number tiebreak already guarantees.

    Exactness: products i·x stay int64 (< 9e18 to ~1e9 customers ×
    $10M), SUMMED IN DECIMAL(38,0) (exact at any n); the three
    components convert through VARCHAR (the decimals.py route) and
    the final G is a fixed IEEE tree.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("x")
    ).withColumn("band", F.expr(f"x div {_GINI_BAND_CENTS}"))
    band_n = cust.groupBy("band").agg(F.count(F.lit(1)).alias("bn"))
    w_bands = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    offs = band_n.select(
        "band", F.coalesce(F.sum("bn").over(w_bands), F.lit(0)).alias("off")
    )
    w_in = Window.partitionBy("band").orderBy("x", "o_custkey")
    ranked = (
        cust.withColumn("rn", F.row_number().over(w_in))
        .join(F.broadcast(offs), "band")
        .select("x", (F.col("off") + F.col("rn")).cast("long").alias("i"))
    )
    comp = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        to_double(F.sum(F.col("x").cast("decimal(19,0)"))).alias("s"),
        to_double(
            F.sum(F.col("i").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
        ).alias("t"),
    )
    nn = F.col("n").cast("double")
    return comp.select(
        F.col("n").alias("n_customers"),
        F.col("s").alias("total_cents"),
        (
            (F.lit(2.0) * F.col("t") - (nn + F.lit(1.0)) * F.col("s"))
            / (nn * F.col("s"))
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival estimate (churn with right-censoring)
# ---------------------------------------------------------------------------


@query(
    "q205_kaplan_meier",
    oracle=f"""
    WITH anchor AS (
      SELECT CAST(MAX(epoch_us(ts)) AS BIGINT) AS t_max FROM events
    ),
    u AS (
      SELECT user_id,
             CAST((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // {_WEEK_US}
                  AS BIGINT) AS tenure_w,
             CASE WHEN MAX(epoch_us(ts)) < a.t_max - {_WEEK_US}
                  THEN 1 ELSE 0 END AS churned
      FROM events CROSS JOIN anchor a
      GROUP BY user_id, a.t_max
    ),
    wk AS (
      SELECT tenure_w AS w,
             CAST(SUM(churned) AS BIGINT) AS d,
             CAST(SUM(1 - churned) AS BIGINT) AS c
      FROM u GROUP BY tenure_w
    ),
    risk AS (
      SELECT w, d, c,
             CAST(SUM(d + c) OVER (ORDER BY w DESC
                                   ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS n_at_risk
      FROM wk
    ),
    packed AS (
      SELECT list(struct_pack(w := w, d := d, n := n_at_risk)
                  ORDER BY w) AS arr,
             list(struct_pack(w := w, d := d, c := c, n := n_at_risk)
                  ORDER BY w) AS fl
      FROM risk
    )
    SELECT fl[i].w AS tenure_week, fl[i].n AS n_at_risk,
           fl[i].d AS n_churned, fl[i].c AS n_censored,
           list_reduce(
             list_prepend(CAST(1.0 AS DOUBLE),
               list_transform(arr[1:i],
                 s -> 1.0 - CAST(s.d AS DOUBLE) / CAST(s.n AS DOUBLE))),
             (acc, x) -> acc * x) AS survival
    FROM packed, unnest(generate_series(1, len(fl))) AS t(i)
    """,
    tags=("agg", "time", "survival"),
)
def q205_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for user churn with RIGHT
    CENSORING: a user's tenure is first→last event in weeks; users
    still active in the final week are CENSORED (we don't know their
    true lifetime — dropping them, the naive churn analysis, biases
    survival down). Per tenure week: at-risk count (reverse
    cumulative), churn and censor counts, and the KM product
    S(w) = Π_{{j<=w}} (1 - d_j/n_j).

    The cumulative PRODUCT is the interesting exactness case: float
    multiplication is order-dependent, so S is computed as a
    LEFT FOLD over the week-ordered struct array (F.aggregate /
    list_reduce — the engine's sequential-fold discipline from the
    cosine family) — a fixed evaluation order on both engines, hence
    bit-identical, with no transcendentals (the exp-sum-log rewrite
    is banned and unnecessary).

    Scale: one corpus aggregation to |users|, one to |weeks|; the
    fold runs on a single packed row of ~|weeks| structs (the prefix
    products are O(weeks²) scalar multiplies — trivial; at
    thousands of time points switch to the segmented prefix scan
    with per-band fold carry, same discipline as q185).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    anchor = ev.agg(F.max(us).alias("t_max"))
    u = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.expr(
                f"(max(unix_micros(cast(ts as timestamp)))"
                f" - min(unix_micros(cast(ts as timestamp)))) div {_WEEK_US}"
            ).alias("tenure_w"),
            F.when(
                F.max(us) < F.any_value("t_max") - F.lit(_WEEK_US), 1
            )
            .otherwise(0)
            .alias("churned"),
        )
    )
    wk = u.groupBy(F.col("tenure_w").alias("w")).agg(
        F.sum("churned").alias("d"),
        F.sum(F.lit(1) - F.col("churned")).alias("c"),
    )
    w_risk = Window.orderBy(F.col("w").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = wk.withColumn("n_at_risk", F.sum(F.col("d") + F.col("c")).over(w_risk))
    packed = risk.agg(
        F.sort_array(
            F.collect_list(F.struct("w", "d", F.col("n_at_risk").alias("n")))
        ).alias("arr"),
        F.sort_array(
            F.collect_list(
                F.struct("w", "d", "c", F.col("n_at_risk").alias("n"))
            )
        ).alias("fl"),
    )
    return (
        packed.select(
            F.posexplode("fl").alias("pos", "f"), F.col("arr")
        )
        .select(
            F.col("f.w").alias("tenure_week"),
            F.col("f.n").alias("n_at_risk"),
            F.col("f.d").alias("n_churned"),
            F.col("f.c").alias("n_censored"),
            F.expr(
                "aggregate(transform(slice(arr, 1, pos + 1),"
                " s -> 1.0D - cast(s.d as double) / cast(s.n as double)),"
                " cast(1.0 as double), (acc, x) -> acc * x)"
            ).alias("survival"),
        )
    )


# ---------------------------------------------------------------------------
# Boxplot precompute (five-number summary + Tukey outlier counts)
# ---------------------------------------------------------------------------


@query(
    "q206_boxplot_stats",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.25) AS p25,
             quantile_cont(l_extendedprice, 0.50) AS p50,
             quantile_cont(l_extendedprice, 0.75) AS p75
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ANY_VALUE(q.p25) AS p25, ANY_VALUE(q.p50) AS p50,
           ANY_VALUE(q.p75) AS p75,
           MIN(CASE WHEN l.l_extendedprice
                         >= q.p25 - 1.5 * (q.p75 - q.p25)
                    THEN l.l_extendedprice END) AS whisker_lo,
           MAX(CASE WHEN l.l_extendedprice
                         <= q.p75 + 1.5 * (q.p75 - q.p25)
                    THEN l.l_extendedprice END) AS whisker_hi,
           CAST(SUM(CASE WHEN l.l_extendedprice
                              < q.p25 - 1.5 * (q.p75 - q.p25)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers_lo,
           CAST(SUM(CASE WHEN l.l_extendedprice
                              > q.p75 + 1.5 * (q.p75 - q.p25)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers_hi
    FROM lineitem l JOIN q ON q.l_returnflag = l.l_returnflag
    GROUP BY l.l_returnflag
    """,
    tags=("agg", "percentile", "profile"),
)
def q206_boxplot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boxplot precompute per group: the five-number summary with
    TUKEY WHISKERS (the most extreme values still inside
    quartile ± 1.5·IQR — whiskers sit on data points, not on the
    fence formula) and the outlier counts beyond each fence — the
    dashboard-side aggregate that renders a boxplot without
    shipping rows. The q181/q112 robust family's presentation
    endpoint.

    Exactness: q99-pinned quartile interpolation; fences are a fixed
    IEEE tree over identical quartiles; whisker min/max and outlier
    counts are conditional aggregates on identical comparisons.

    Scale: quartiles per group (|groups|-row frame, broadcast back),
    then ONE conditional-aggregation pass — two corpus scans total,
    both map-side-combined.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    q = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.25)).alias("p25"),
        F.percentile("l_extendedprice", F.lit(0.50)).alias("p50"),
        F.percentile("l_extendedprice", F.lit(0.75)).alias("p75"),
    )
    iqr = F.col("p75") - F.col("p25")
    lo_fence = F.col("p25") - F.lit(1.5) * iqr
    hi_fence = F.col("p75") + F.lit(1.5) * iqr
    x = F.col("l_extendedprice")
    return (
        li.join(F.broadcast(q), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.any_value("p25").alias("p25"),
            F.any_value("p50").alias("p50"),
            F.any_value("p75").alias("p75"),
            F.min(F.when(x >= lo_fence, x)).alias("whisker_lo"),
            F.max(F.when(x <= hi_fence, x)).alias("whisker_hi"),
            F.sum(F.when(x < lo_fence, 1).otherwise(0)).alias("n_outliers_lo"),
            F.sum(F.when(x > hi_fence, 1).otherwise(0)).alias("n_outliers_hi"),
        )
    )


# ---------------------------------------------------------------------------
# 2-D histogram (heatmap precompute)
# ---------------------------------------------------------------------------

_H2_PRICE_BIN = 10_000.0  # $100 price bins (price is in dollars)
_H2_QTY_BIN = 10.0


@query(
    "q208_histogram_2d",
    oracle=f"""
    SELECT CAST(floor(l_extendedprice / {_H2_PRICE_BIN}) AS BIGINT)
             AS price_bin,
           CAST(floor(l_quantity / {_H2_QTY_BIN}) AS BIGINT) AS qty_bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)))
                     AS VARCHAR) AS DOUBLE) AS price_sum
    FROM lineitem
    GROUP BY price_bin, qty_bin
    """,
    tags=("agg", "histogram", "profile"),
)
def q208_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram of (price x quantity) — the heatmap/density
    precompute behind joint-distribution dashboards and the
    co-binning a 2-feature drift monitor consumes (q137 bins one
    axis; joint structure needs both: correlated shifts are invisible
    marginally). Fixed-width bins via floor division — identical
    doubles both engines; cell sums ride the exact-decimal route.

    Scale: ONE corpus aggregation with map-side partials onto the
    bounded bin grid; output is |price bins| x |qty bins| regardless
    of corpus size.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_quantity"
    )
    return (
        li.select(
            F.floor(F.col("l_extendedprice") / F.lit(_H2_PRICE_BIN))
            .cast("long")
            .alias("price_bin"),
            F.floor(F.col("l_quantity") / F.lit(_H2_QTY_BIN))
            .cast("long")
            .alias("qty_bin"),
            "l_extendedprice",
        )
        .groupBy("price_bin", "qty_bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            to_double(F.sum(dec(F.col("l_extendedprice")))).alias("price_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Join-size forecasting (predict the shuffle before paying for it)
# ---------------------------------------------------------------------------


def _join_forecast_sql(label: str, left_key: str, right_tbl: str, right_key: str) -> str:
    return f"""
    SELECT '{label}' AS join_name,
           CAST(SUM(a.c * b.c) AS BIGINT) AS predicted_rows,
           CAST(SUM(CASE WHEN a.c * b.c > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matching_keys,
           CAST(MAX(a.c * b.c) AS BIGINT) AS max_key_contribution
    FROM (SELECT {left_key} AS k, CAST(COUNT(*) AS BIGINT) AS c
          FROM lineitem GROUP BY {left_key}) a
    JOIN (SELECT {right_key} AS k, CAST(COUNT(*) AS BIGINT) AS c
          FROM {right_tbl} GROUP BY {right_key}) b ON b.k = a.k
    """


@query(
    "q209_join_size_forecast",
    oracle=f"""
    {_join_forecast_sql("lineitem_x_orders", "l_orderkey", "orders", "o_orderkey")}
    UNION ALL
    {_join_forecast_sql("lineitem_x_part", "l_partkey", "part", "p_partkey")}
    """,
    tags=("agg", "join", "profile"),
)
def q209_join_size_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT join-size forecasting: for each candidate equi-join, the
    output cardinality it WOULD produce — Σ_k cnt_left(k)·cnt_right(k)
    over the joined key-count frames — plus the matching-key count
    and the largest single key's contribution (the row that predicts
    a skew blow-up). q186 profiles one side's key distribution; this
    is the two-sided readout a planner (or an engineer about to key a
    100 TB shuffle) actually wants: the forecast costs two key-count
    aggregations — corpus-reduced frames — instead of the join
    itself, and the max-contribution column is the salting trigger.

    Exactness: all counts exact int64; products bounded by
    max_cnt_l · max_cnt_r (headroom to 3e9 x 3e9 per key).

    Scale: two map-side-combined count aggregations to |keys| frames,
    one key-keyed join between them, a 3-column rollup. The forecast
    frame join is itself skew-immune: it carries one row per key.
    """
    li = load_table(spark, sf_dir, "lineitem")

    def forecast(label: str, left_key: str, right, right_key: str) -> DataFrame:
        a = li.groupBy(F.col(left_key).alias("k")).agg(
            F.count(F.lit(1)).alias("ca")
        )
        b = right.groupBy(F.col(right_key).alias("k")).agg(
            F.count(F.lit(1)).alias("cb")
        )
        return (
            a.join(b, "k")
            .agg(
                F.sum(F.col("ca") * F.col("cb")).alias("predicted_rows"),
                F.sum(
                    F.when(F.col("ca") * F.col("cb") > 0, 1).otherwise(0)
                ).alias("n_matching_keys"),
                F.max(F.col("ca") * F.col("cb")).alias(
                    "max_key_contribution"
                ),
            )
            .select(F.lit(label).alias("join_name"), "*")
        )

    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    return forecast(
        "lineitem_x_orders", "l_orderkey", orders, "o_orderkey"
    ).unionByName(forecast("lineitem_x_part", "l_partkey", part, "p_partkey"))


# ---------------------------------------------------------------------------
# Triangle counting with degree orientation (graph structure telemetry)
# ---------------------------------------------------------------------------


_COORDER_MIN_SUPPORT = 2  # minimum co-occurrence count
_COORDER_MIN_LIFT = 2  # minimum lift (observed / expected-independent)


def coorder_part_edges(li: DataFrame) -> DataFrame:
    """Undirected part co-purchase edges (u < v by id) from the
    lineitem fact: parts are adjacent when their co-occurrence is
    STATISTICALLY REAL — observed together in >= _COORDER_MIN_SUPPORT
    orders AND at lift >= _COORDER_MIN_LIFT over the independence
    expectation (obs * n_orders >= lift * cnt_u * cnt_v, exact
    integers). This is q176's association-mining discipline applied
    to graph construction, and it is what keeps the graph density
    SCALE-INVARIANT: an absolute support cut alone collapses as the
    corpus grows (every noise pair's count rises with corpus
    multiplicity — measured: the support-2 graph at a 10x fan-out
    re-densifies to ~880k edges / ~77M wedges, a 60 s triangle
    count), while lift is a ratio of counts that growth leaves
    fixed. Per-order pairing is quadratic in BASKET width (bounded,
    ~7 in TPC-H-shaped data), never in graph or corpus size.
    localCheckpoint'd — every consumer (degrees, orientation,
    closing-edge probe, assortativity moments) reuses the
    materialized edge list."""
    # ONE order-keyed shuffle builds the basket arrays; pairs explode
    # MAP-SIDE from each sorted basket (q176's transform x slice —
    # no self-join, no second corpus shuffle), and the same frame
    # feeds per-part counts and the basket total.
    # fan_out BEFORE the checkpoint (guide §2.5 parallelize-before-
    # amplify): byte-based AQE coalescing shrinks the compact basket
    # frame to ONE partition at bench scale, which would run the
    # pair explosion and every downstream aggregate serially
    # (measured r12: the basket checkpoint held 1 partition and the
    # pair census ran 3.6 s on one core vs 0.7 s fanned).
    from target_hdfs_spark.sources.readers import fan_out

    baskets = fan_out(
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
        .groupBy("ok")
        .agg(F.array_sort(F.collect_set("p")).alias("ps")),
        "ok",
    ).localCheckpoint()
    cnt = baskets.select(F.explode("ps").alias("p")).groupBy("p").agg(
        F.count(F.lit(1)).alias("c")
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_ord"))
    # pin the pair census's reduce parallelism: the (u, v) key space
    # is ~|pairs| groups of a few bytes each, so hash-agg cost scales
    # with GROUPS while AQE's coalescing reasons in BYTES and would
    # merge the whole census into one task at bench scale (measured
    # r12: 3.3 s one-task vs 1.0 s spread). repartition-by-key is
    # reused by the groupBy (same keys, same count — one exchange).
    # The basket frame was fanned to every core above, so the census
    # uses the same count.
    n_fan = li.sparkSession.sparkContext.defaultParallelism
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(x AS u, y AS v))))"
                )
            ).alias("pr")
        )
        .select("pr.u", "pr.v")
        .repartition(n_fan, "u", "v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    cu = cnt.select(F.col("p").alias("u"), F.col("c").alias("cu"))
    cv = cnt.select(F.col("p").alias("v"), F.col("c").alias("cv"))
    return (
        pairs.join(cu, "u")
        .join(cv, "v")
        .join(F.broadcast(n_orders))
        .filter(
            (F.col("obs") >= _COORDER_MIN_SUPPORT)
            & (
                F.col("obs") * F.col("n_ord")
                >= _COORDER_MIN_LIFT * F.col("cu") * F.col("cv")
            )
        )
        .select("u", "v")
        .localCheckpoint()
    )


def edge_degrees(e: DataFrame) -> DataFrame:
    """(node, d) exact degree frame of an undirected (u, v) edge list."""
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )


# Shared DuckDB CTE fragment: the same edge + degree frames, derived
# independently in SQL so q212/q217 verify against one graph.
_COORDER_EDGES_SQL = """
    ip AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
    ),
    pcnt AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM ip GROUP BY p),
    nord AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_ord FROM ip),
    obs AS (
      SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS obs
      FROM ip a JOIN ip b ON b.ok = a.ok AND b.p > a.p
      GROUP BY 1, 2
    ),
    e AS (
      SELECT o.u, o.v
      FROM obs o
      JOIN pcnt cu ON cu.p = o.u
      JOIN pcnt cv ON cv.p = o.v
      CROSS JOIN nord
      WHERE o.obs >= 2 AND o.obs * n_ord >= 2 * cu.c * cv.c
    ),
    deg AS (
      SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
      GROUP BY x
    )"""


@query(
    "q212_triangle_count",
    oracle=f"""
    WITH {_COORDER_EDGES_SQL},
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    basics AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
      FROM deg
    ),
    ecnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CAST(CASE WHEN n_wedges > 0
                     THEN 3 * n_triangles * 1000000 // n_wedges
                     ELSE 0 END AS BIGINT) AS clustering_ppm
    FROM basics CROSS JOIN ecnt CROSS JOIN tri
    """,
    tags=("graph", "triangle", "agg"),
)
def q212_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient over the
    part co-purchase graph (parts adjacent when co-ordered at
    support >= 2 AND lift >= 2 — see coorder_part_edges for why the
    lift term is what keeps the graph scale-invariant) —
    with q151's PageRank and q85's connected components this
    completes the graph-telemetry trio: components say what's
    CONNECTED, PageRank what's CENTRAL, triangles how CLIQUISH the
    neighborhood structure is (near-dup graphs with high clustering
    need transitive-closure-style dedup; low clustering means
    pairwise suppression suffices).

    Spark plan: DEGREE-ORIENTED join (each undirected edge directed
    low-(deg,id) -> high-(deg,id) endpoint), so every triangle is
    counted exactly once at its lowest-degree vertex and the wedge
    join's fan-out per node is bounded by its ORIENTED out-degree =
    O(sqrt(m)) on any graph (Schank/Wagner) — hot hubs never
    enumerate their full neighbor square. The oracle deliberately
    uses the UNORIENTED textbook 3-way self-join (independent
    derivation, quadratic in hub degree — priced as oracle-only).

    Exactness: everything is exact counts; the clustering coefficient
    is one truncated ppm division (3T / wedges).

    Scale: per-order pairing is quadratic in BASKET size (bounded by
    order width, ~7 in TPC-H-shaped data); edges/degrees/wedges are
    all key-partitioned joins and aggregations; the closing-edge
    probe joins on the (src,dst) edge key. No stage is quadratic in
    graph size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    e = coorder_part_edges(li)
    deg = edge_degrees(e)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    # orient: src = endpoint with the smaller (degree, id) pair
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = ed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("ddst"),
    ).localCheckpoint()
    e1, e2 = o.alias("e1"), o.alias("e2")
    # wedges at the low vertex: two out-edges, ordered by (deg, id) of
    # the endpoints so each unordered wedge appears once
    wedge = e1.join(
        e2,
        (F.col("e2.src") == F.col("e1.src"))
        & (
            (F.col("e1.ddst") < F.col("e2.ddst"))
            | (
                (F.col("e1.ddst") == F.col("e2.ddst"))
                & (F.col("e1.dst") < F.col("e2.dst"))
            )
        ),
    ).select(F.col("e1.dst").alias("src"), F.col("e2.dst").alias("dst"))
    closing = o.select("src", "dst")
    tri = wedge.join(closing, ["src", "dst"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    basics = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
    )
    ecnt = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        basics.join(F.broadcast(ecnt))
        .join(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            F.col("n_wedges").cast("long").alias("n_wedges"),
            "n_triangles",
            F.expr(
                "CASE WHEN n_wedges > 0"
                " THEN 3 * n_triangles * 1000000 div n_wedges"
                " ELSE 0 END"
            )
            .cast("long")
            .alias("clustering_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Dyadic EMA (exponential moving average as an integer left fold)
# ---------------------------------------------------------------------------


@query(
    "q213_dyadic_ema",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             list(CAST(floor(value * 1000000) AS BIGINT)
                  ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(len(vals) AS BIGINT) AS n_events,
           list_reduce(vals, (acc, x) -> (acc + x) // 2) AS ema_micro
    FROM seq
    """,
    tags=("time", "window", "fold", "statistics"),
)
def q213_dyadic_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential moving average with alpha = 1/2 as an
    EXACT integer left fold: ema_0 = v_0, ema_t = (v_t + ema_{t-1})
    div 2 over the event-time-ordered value sequence — the smoothing
    readout feature stores keep per entity (q175's dyadic decay
    weights by AGE at a fixed anchor; the EMA weights by POSITION in
    the sequence, the classic online smoother). The dyadic alpha
    makes every step one add + one truncating shift: no floats, no
    transcendentals, order-pinned by construction — the q205
    sequential-fold discipline applied to recurrences.

    Exactness: floor(value*1e6) micro-units (positive values, so
    Spark's truncating `div` and DuckDB's flooring `//` agree);
    list_reduce/aggregate fold left over the (ts, event_id)-ordered
    array identically in both engines.

    Scale: one user-keyed aggregation; the per-user array is bounded
    by per-entity history length (sequence features, not corpus
    rows). For unbounded histories the streaming twin (ema_stream,
    16 bytes of state per key) IS the scale path — the fold never
    rematerializes the sequence.
    """
    ev = load_table(spark, sf_dir, "events")
    seq = (
        ev.select(
            "user_id",
            F.struct(
                "ts",
                "event_id",
                F.floor(F.col("value") * 1_000_000)
                .cast("long")
                .alias("vmicro"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("s")).alias("seq"))
    )
    return seq.select(
        "user_id",
        F.size("seq").cast("long").alias("n_events"),
        F.expr(
            "aggregate(slice(seq, 2, size(seq) - 1), seq[0].vmicro,"
            " (acc, x) -> (acc + x.vmicro) div 2)"
        ).alias("ema_micro"),
    )


# ---------------------------------------------------------------------------
# Degree assortativity (2nd graph-telemetry readout on the co-order graph)
# ---------------------------------------------------------------------------


@query(
    "q217_degree_assortativity",
    oracle=f"""
    WITH {_COORDER_EDGES_SQL},
    ed AS (
      SELECT e.u, e.v, du.d AS du, dv.d AS dv
      FROM e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ),
    mo AS (
      SELECT CAST(2 * COUNT(*) AS BIGINT) AS n,
             CAST(SUM(du + dv) AS BIGINT) AS sx,
             CAST(SUM(du * du + dv * dv) AS BIGINT) AS sxx,
             CAST(SUM(2 * du * dv) AS BIGINT) AS sxy
      FROM ed
    )
    SELECT n AS n_endpoint_pairs, sx, sxx, sxy,
           CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                ELSE CAST(n * sxy - sx * sx AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)
           END AS assortativity
    FROM mo
    """,
    tags=("graph", "statistics", "agg"),
)
def q217_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph (same
    lift-thresholded edges as q212): the Pearson correlation of
    endpoint degrees over all SYMMETRIZED edge endpoint pairs — do high-degree parts co-occur with other hubs (r > 0,
    assortative) or with leaves (r < 0, disassortative)? The third
    graph-telemetry readout next to q212's clustering coefficient:
    together they predict how an LSH/dedup similarity graph will
    behave under star contraction (disassortative hub-leaf graphs
    collapse in few rounds; assortative hub-hub cores are the deep
    ones).

    Exactness: by symmetry Sx = Sy and Sxx = Syy, so Pearson's r
    needs NO square root: r = (n*Sxy - Sx^2) / (n*Sxx - Sx^2) — all
    moments exact int64 sums over bounded degrees, one final double
    division of exactly-agreed integers (int64 -> double is correctly
    rounded identically in both engines), zero-guarded for regular
    graphs.

    Scale: edge list and degree frame shared with q212 (same helper);
    the moment pass is one map-side-combined aggregation over edges
    joined to the |nodes|-sized degree frame on each endpoint — two
    key-partitioned joins, one scalar row out.
    """
    li = load_table(spark, sf_dir, "lineitem")
    e = coorder_part_edges(li)
    deg = edge_degrees(e)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    mo = ed.agg(
        (2 * F.count(F.lit(1))).cast("long").alias("n"),
        F.sum(F.col("du") + F.col("dv")).cast("long").alias("sx"),
        F.sum(F.col("du") * F.col("du") + F.col("dv") * F.col("dv"))
        .cast("long")
        .alias("sxx"),
        F.sum(2 * F.col("du") * F.col("dv")).cast("long").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return mo.select(
        F.col("n").alias("n_endpoint_pairs"),
        "sx",
        "sxx",
        "sxy",
        F.when(den == 0, F.lit(0.0))
        .otherwise(num.cast("double") / den.cast("double"))
        .alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# k-core peeling (3rd graph-telemetry readout on the co-order graph)
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_round_sql(prev: str, out: str) -> str:
    """One unrolled peel: recompute degrees over `prev`, keep edges
    whose BOTH endpoints still have degree >= k. MATERIALIZED: each
    round is referenced twice (next round's degrees + its join), so
    without the hint DuckDB inlines and re-evaluates the chain
    exponentially (2^rounds evaluations of the base edge pipeline)."""
    return f"""
    {out}_d AS MATERIALIZED (
      SELECT x AS node, COUNT(*) AS d
      FROM (SELECT u AS x FROM {prev} UNION ALL SELECT v AS x FROM {prev})
      GROUP BY x
    ),
    {out} AS MATERIALIZED (
      SELECT p.u, p.v
      FROM {prev} p
      JOIN {out}_d a ON a.node = p.u AND a.d >= {_KCORE_K}
      JOIN {out}_d b ON b.node = p.v AND b.d >= {_KCORE_K}
    )"""


@query(
    "q236_kcore_peel",
    # Each round's stats read the NEXT round's degree CTE (degrees of
    # e{r} are exactly what peel r+1 recomputes), so the whole oracle
    # is one linear CTE chain — scalar subqueries over the raw edge
    # CTEs re-evaluated the entire unrolled chain per readout
    # (measured 138 s at sf0.01; this shape runs in seconds).
    # n_nodes = rows of the degree frame (every incident node has
    # d >= 1), n_edges = sum(d) / 2.
    oracle=f"""
    WITH {_COORDER_EDGES_SQL},
    {",".join(_kcore_round_sql(f"e{r}" if r else "e", f"e{r + 1}")
              for r in range(_KCORE_ROUNDS))},
    {_kcore_round_sql(f"e{_KCORE_ROUNDS}", f"e{_KCORE_ROUNDS + 1}")},
    stats AS (
      {" UNION ALL ".join(
          f"SELECT {r + 1} AS round,"
          f" CAST(COUNT(*) AS BIGINT) AS n_nodes,"
          f" CAST(SUM(d) // 2 AS BIGINT) AS n_edges"
          f" FROM e{r + 2}_d"
          for r in range(_KCORE_ROUNDS))}
    )
    SELECT CAST(round AS BIGINT) AS round, n_nodes, n_edges FROM stats
    """,
    tags=("graph", "kcore", "iterative", "observability"),
)
def q236_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round k-CORE PEELING over the lift-thresholded
    co-purchase graph: {_KCORE_ROUNDS} unrolled rounds of "drop every
    node with degree < {_KCORE_K}, keep edges whose both endpoints
    survive", reporting (round, n_nodes, n_edges) — the dense-core
    extraction that separates structurally-embedded products from
    tendrils (q85 CC finds who is CONNECTED; the k-core finds who is
    EMBEDDED — a bridge keeps components together but dies in the
    first peel). Round-limited like q151/q178/q219 so the iterative
    algorithm is exactly oracle-checkable: the DuckDB side unrolls
    the same {_KCORE_ROUNDS} CTE rounds.

    Exactness: degrees, survivals, and counts are exact integers;
    the peel is a deterministic function of the edge set, so Spark
    and the unrolled SQL agree bit-exactly per round.

    Scale: each round is one node-keyed degree aggregation plus two
    node-keyed semi-shaped joins over a monotonically SHRINKING edge
    frame — O(edges)/round, never quadratic; per-round
    localCheckpoint cuts the unrolled lineage exactly like the other
    fixed-point operators. Full convergence at 100 TB would run
    peels until fixpoint with the same per-round plan (round count
    grows with core depth, not corpus size — degeneracy-ordered
    peeling stays out of scope because it is inherently sequential;
    the round-synchronous peel is the distributed formulation).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cur = coorder_part_edges(li)
    rows = None
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = edge_degrees(cur).filter(F.col("d") >= _KCORE_K).select("node")
        cur = (
            cur.join(deg.withColumnRenamed("node", "u"), "u")
            .join(deg.withColumnRenamed("node", "v"), "v")
            .select("u", "v")
            .localCheckpoint()
        )
        stat = (
            cur.select(F.col("u").alias("x"))
            .unionAll(cur.select(F.col("v").alias("x")))
            .agg(
                F.count_distinct(F.col("x")).cast("long").alias("n_nodes"),
                (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
            )
            .select(F.lit(r).cast("long").alias("round"), "n_nodes", "n_edges")
        )
        rows = stat if rows is None else rows.unionByName(stat)
    return rows


# ---------------------------------------------------------------------------
# Empirical-Bayes smoothed segment rates (shrinkage without floats)
# ---------------------------------------------------------------------------

_EB_PRIOR_N = 50  # prior strength: pseudo-orders carrying the global rate


@query(
    "q221_smoothed_segment_rates",
    oracle=f"""
    WITH cells AS (
      SELECT n.n_name AS nation, c.c_mktsegment AS segment,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
                           THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    g AS (
      SELECT CAST(SUM(k) * 1000000 // SUM(n) AS BIGINT) AS g_ppm FROM cells
    )
    SELECT nation, segment, n, k,
           CAST(k * 1000000 // n AS BIGINT) AS raw_ppm,
           CAST((k * 1000000 + {_EB_PRIOR_N} * g.g_ppm)
                // (n + {_EB_PRIOR_N}) AS BIGINT) AS smoothed_ppm
    FROM cells CROSS JOIN g
    """,
    tags=("agg", "statistics", "smoothing"),
)
def q221_smoothed_segment_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes SHRINKAGE of per-(nation, segment) urgent-order
    rates toward the global rate: smoothed = (k + S*g) / (n + S) with
    prior strength S = {_EB_PRIOR_N} pseudo-observations — the
    standard fix for small-cell rate dashboards, where a 3-order cell
    showing 67% urgent would otherwise outrank every well-measured
    cell (q198's Wilson interval WIDENS small cells' uncertainty;
    shrinkage MOVES their point estimate — dashboards want both).

    Exactness: entirely integer — the global rate is one ppm
    truncated division, the shrunk estimate one more on exact counts;
    no Beta-function machinery needed for the posterior-mean form.

    Scale: nation (25 rows) and the 1-row global rate broadcast;
    customer scales with SF (~150k x SF rows) so it joins as a
    shuffle side — AQE may still auto-broadcast it at small SF, but
    the plan never FORCES it past the size threshold (a forced hint
    would OOM the executors at the 100 TB posture). The fact
    aggregation is map-side combined onto the |nations x segments|
    cell frame.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("k"),
        )
    )
    g = cells.agg(
        F.expr("sum(k) * 1000000 div sum(n)").alias("g_ppm")
    )
    return (
        cells.join(F.broadcast(g))
        .select(
            "nation",
            "segment",
            "n",
            F.col("k").cast("long").alias("k"),
            F.expr("k * 1000000 div n").cast("long").alias("raw_ppm"),
            F.expr(
                f"(k * 1000000 + {_EB_PRIOR_N} * g_ppm)"
                f" div (n + {_EB_PRIOR_N})"
            )
            .cast("long")
            .alias("smoothed_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Clamped running balance (nonlinear scan via packed-accumulator fold)
# ---------------------------------------------------------------------------

_BAL_PACK = 1_000_000  # packed accumulator: acc = balance*PACK + resets


@query(
    "q222_clamped_running_balance",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             list(CASE WHEN event_type IN ('view', 'click')
                       THEN CAST(floor(value * 100) AS BIGINT)
                       ELSE -CAST(floor(value * 100) AS BIGINT) END
                  ORDER BY ts, event_id) AS deltas
      FROM events GROUP BY user_id
    ),
    folded AS (
      SELECT user_id, CAST(len(deltas) AS BIGINT) AS n_events,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT), deltas),
               (acc, x) -> greatest(acc // {_BAL_PACK} + x, 0) * {_BAL_PACK}
                           + acc % {_BAL_PACK}
                           + CASE WHEN acc // {_BAL_PACK} + x < 0
                                  THEN 1 ELSE 0 END) AS packed
      FROM seq
    )
    SELECT user_id, n_events,
           CAST(packed // {_BAL_PACK} AS BIGINT) AS final_balance_cents,
           CAST(packed % {_BAL_PACK} AS BIGINT) AS n_resets
    FROM folded
    """,
    tags=("time", "fold", "window"),
)
def q222_clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CLAMPED running balance: credits (view/click cents)
    and debits (all other events) accumulate in event-time order with
    the balance floored at zero, counting how often the clamp fires —
    the canonical NONLINEAR scan (inventory that can't go negative,
    a token bucket, capped usage credits) that no declarative window
    frame can express: max(0, prev + delta) does not decompose into
    any associative aggregate, so it runs as the q205/q213
    sequential-fold discipline.

    The engine-portability trick: the fold state is TWO counters
    (balance, reset count) packed into one int64
    (balance * {_BAL_PACK} + resets), because both engines' fold
    primitives require accumulator type == element type. Balances are
    non-negative by construction, so truncating and flooring division
    unpack identically.

    Scale: one user-keyed aggregation; per-user arrays bounded by
    entity history. The streaming twin shape (16 B state/key) is
    ema_stream's — a clamped-balance twin drops in the same mold.
    """
    ev = load_table(spark, sf_dir, "events")
    delta = F.when(
        F.col("event_type").isin("view", "click"),
        F.floor(F.col("value") * 100).cast("long"),
    ).otherwise(-F.floor(F.col("value") * 100).cast("long"))
    seq = (
        ev.select(
            "user_id",
            F.struct("ts", "event_id", delta.alias("d")).alias("s"),
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("s")).alias("seq"))
        .select(
            "user_id",
            F.size("seq").cast("long").alias("n_events"),
            F.expr("transform(seq, x -> x.d)").alias("deltas"),
        )
    )
    folded = seq.select(
        "user_id",
        "n_events",
        F.expr(
            f"aggregate(deltas, CAST(0 AS BIGINT), (acc, x) ->"
            f" greatest(acc div {_BAL_PACK} + x, CAST(0 AS BIGINT))"
            f" * {_BAL_PACK} + acc % {_BAL_PACK}"
            f" + CASE WHEN acc div {_BAL_PACK} + x < 0 THEN 1 ELSE 0 END)"
        ).alias("packed"),
    )
    return folded.select(
        "user_id",
        "n_events",
        F.expr(f"packed div {_BAL_PACK}").cast("long").alias(
            "final_balance_cents"
        ),
        (F.col("packed") % _BAL_PACK).cast("long").alias("n_resets"),
    )


# ---------------------------------------------------------------------------
# Inter-arrival burstiness (rational CV² — no sqrt, no transcendentals)
# ---------------------------------------------------------------------------


@query(
    "q227_interarrival_burstiness",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
      FROM events
    ),
    mo AS (
      SELECT user_id, CAST(COUNT(d) AS BIGINT) AS n,
             CAST(SUM(d) AS BIGINT) AS s,
             SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS s2
      FROM gaps WHERE d IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n, s AS total_us,
           CAST(s // n AS BIGINT) AS mean_gap_us,
           CAST(CASE WHEN s = 0 THEN 0
                ELSE (CAST(n AS HUGEINT) * s2
                      - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) * 1000000
                     // (CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) END
                AS BIGINT) AS cv2_ppm
    FROM mo
    """,
    tags=("time", "statistics", "profile"),
)
def q227_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival BURSTINESS: the squared coefficient of
    variation of event gaps, CV² = var/mean² = (n·Σd² − (Σd)²) /
    (Σd)² — CV² ≈ 1 is Poisson-random arrival, >> 1 is bursty
    sessions, ~0 is a metronome (bot signature). The identity keeps
    it a pure RATIONAL of exact integer moments — the variance-shaped
    readout without stddev's sqrt — so it's exactly oracle-checkable
    (q183's no-transcendentals discipline applied to dispersion).
    Seasonality (q195) shows WHEN a user acts; burstiness shows the
    arrival-process SHAPE — the bot/human separator feature.

    Exactness: µs gaps from one lag() window; count and Σd are int64,
    Σd² rides DECIMAL(38,0)/HUGEINT (a single month-long µs gap
    squares past int64); the numerator n·Σd² − (Σd)² is non-negative
    by Cauchy-Schwarz, so truncating and flooring integral division
    agree, and one ppm division ends it.

    Scale: ONE user-partitioned window pass + one map-side-combined
    moment aggregation sharing the same Exchange.
    """
    ev = load_table(spark, sf_dir, "events")
    # unix_micros needs LTZ — value-identity cast under the UTC session
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("d")
    ).filter(F.col("d").isNotNull())
    d38 = F.col("d").cast("decimal(38,0)")
    mo = gaps.groupBy("user_id").agg(
        F.count("d").alias("n"),
        F.sum("d").alias("s"),
        F.sum(d38 * d38).alias("s2"),
    )
    return mo.select(
        "user_id",
        "n",
        F.col("s").cast("long").alias("total_us"),
        F.expr("s div n").cast("long").alias("mean_gap_us"),
        F.expr(
            "CASE WHEN s = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((CAST(n AS DECIMAL(38,0)) * s2"
            " - CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0)))"
            " * 1000000 div (CAST(s AS DECIMAL(38,0))"
            " * CAST(s AS DECIMAL(38,0))) AS BIGINT) END"
        )
        .cast("long")
        .alias("cv2_ppm"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (exact rational via total-order ranks)
# ---------------------------------------------------------------------------

_SP_BAND_CENTS = 1_000_000  # value band for the segmented rank


@query(
    "q228_spearman_activity_value",
    oracle="""
    WITH u AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY user_id
    ),
    r AS (
      SELECT row_number() OVER (ORDER BY n_events, user_id) AS rx,
             row_number() OVER (ORDER BY cents, user_id) AS ry
      FROM u
    ),
    mo AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(rx - ry AS HUGEINT) * CAST(rx - ry AS HUGEINT)) AS d2
      FROM r
    )
    SELECT n, CAST(d2 AS BIGINT) AS sum_d2,
           CAST(CASE WHEN n < 2 THEN 0
                ELSE 1000000 - 6 * d2 * 1000000
                     // (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT)
                         * CAST(n AS HUGEINT) - 1)) END AS BIGINT)
             AS rho_ppm
    FROM mo
    """,
    tags=("statistics", "correlation", "rank"),
)
def q228_spearman_activity_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between per-user activity (event
    count) and per-user spend (exact cents) — the monotone-association
    readout that q136's Pearson misses when the relationship is
    nonlinear ("do heavier users spend more, in ANY monotone way").

    Exactness: both rankings use the TOTAL order (metric, user_id), so
    ranks are unique and the tie-free identity rho = 1 − 6Σd² /
    (n(n²−1)) holds exactly — a pure rational of integer moments, no
    sqrt (the tied-rank general form needs one; the deterministic
    tiebreak is what keeps this oracle-exact). Σd² and n³ ride
    DECIMAL(38,0)/HUGEINT. 1e6 − nonneg div nonneg keeps every
    division on non-negative operands (truncation == floor).

    Scale: the corpus reduces to the |users| frame first; both global
    ranks are SEGMENTED (q204's band decomposition) — per-band counts
    give carry-in offsets, within-band row_number is band-partitioned.
    The oracle deliberately uses plain global windows (independent).
    """
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
    ).localCheckpoint()  # feeds both segmented ranks

    def seg_rank(df: DataFrame, col: str, band_w: int, out: str) -> DataFrame:
        banded = df.withColumn("band", F.expr(f"{col} div {band_w}"))
        bn = banded.groupBy("band").agg(F.count(F.lit(1)).alias("bn"))
        w_b = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
        offs = bn.select(
            "band", F.coalesce(F.sum("bn").over(w_b), F.lit(0)).alias("off")
        )
        w_in = Window.partitionBy("band").orderBy(col, "user_id")
        return (
            banded.withColumn("rn", F.row_number().over(w_in))
            .join(F.broadcast(offs), "band")
            .select("user_id", (F.col("off") + F.col("rn")).alias(out))
        )
    rx = seg_rank(u, "n_events", 8, "rx")
    ry = seg_rank(u, "cents", _SP_BAND_CENTS, "ry")
    d = F.col("rx") - F.col("ry")
    d38 = d.cast("decimal(38,0)")
    mo = rx.join(ry, "user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum(d38 * d38).alias("d2")
    )
    return mo.select(
        "n",
        F.col("d2").cast("long").alias("sum_d2"),
        F.expr(
            "CASE WHEN n < 2 THEN CAST(0 AS BIGINT)"
            " ELSE CAST(1000000 - 6 * d2 * 1000000"
            " div (CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0))"
            " * CAST(n AS DECIMAL(38,0)) - 1)) AS BIGINT) END"
        ).alias("rho_ppm"),
    )


# ---------------------------------------------------------------------------
# Data-contract expectation checks (Great-Expectations-shaped gate)
# ---------------------------------------------------------------------------


@query(
    "q229_expectation_checks",
    oracle="""
    SELECT 'o_totalprice_positive' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_violations,
           CAST(SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) = 0
                AS BIGINT) AS passed
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus_enum',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus IN ('O', 'F', 'P')
                         THEN 0 ELSE 1 END) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus IN ('O', 'F', 'P')
                         THEN 0 ELSE 1 END) = 0 AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_custkey_not_null',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0
                AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderkey_unique',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) = 0 AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate_in_range',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1990-01-01'
                          AND o_orderdate < TIMESTAMP '2030-01-01'
                         THEN 0 ELSE 1 END) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1990-01-01'
                          AND o_orderdate < TIMESTAMP '2030-01-01'
                         THEN 0 ELSE 1 END) = 0 AS BIGINT)
    FROM orders
    """,
    tags=("quality", "contract", "profile"),
)
def q229_expectation_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-CONTRACT gate over the orders snapshot: five
    expectation-suite-shaped checks (positive amounts, enum
    membership, non-null key, key uniqueness, date range) each
    reporting row count, violation count, and a pass bit — the
    accept/reject summary a pipeline evaluates BEFORE publishing a
    snapshot downstream (q155 audits cross-table consistency; this is
    the single-table contract layer in front of it). Row-level checks
    fuse into ONE conditional-aggregation pass; the uniqueness check
    adds the one count_distinct.

    Exactness: counts and boolean sums — exact integers throughout.

    Scale: one corpus scan with map-side-combined conditional
    aggregates (adding a row-level check costs zero scans); the
    distinct count is the only shuffle-bearing term. At 100 TB run
    exactly this shape per partition-to-publish.
    """
    o = load_table(spark, sf_dir, "orders")
    row_checks = [
        (
            "o_totalprice_positive",
            F.when(F.col("o_totalprice") > 0, 0).otherwise(1),
        ),
        (
            "o_orderstatus_enum",
            F.when(F.col("o_orderstatus").isin("O", "F", "P"), 0).otherwise(1),
        ),
        (
            "o_custkey_not_null",
            F.when(F.col("o_custkey").isNull(), 1).otherwise(0),
        ),
        (
            "o_orderdate_in_range",
            F.when(
                (F.col("o_orderdate") >= F.lit("1990-01-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("2030-01-01").cast("timestamp_ntz")),
                0,
            ).otherwise(1),
        ),
    ]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, viol in row_checks:
        aggs.append(F.sum(viol).cast("long").alias(f"v_{name}"))
    aggs.append(
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey"))
        .cast("long")
        .alias("v_o_orderkey_unique")
    )
    one = o.agg(*aggs)
    names = [n for n, _ in row_checks] + ["o_orderkey_unique"]
    rows = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("check_name"),
                        F.col("n_rows").cast("long").alias("n_rows"),
                        F.col(f"v_{n}").alias("n_violations"),
                        (F.col(f"v_{n}") == 0).cast("long").alias("passed"),
                    )
                    for n in names
                ]
            )
        ).alias("s")
    )
    return rows.select("s.check_name", "s.n_rows", "s.n_violations", "s.passed")


# ---------------------------------------------------------------------------
# Histogram-quantile accuracy (the q214 calibration discipline, for quantiles)
# ---------------------------------------------------------------------------

_HQ_BIN = 5_000.0  # equi-width histogram bin (price dollars)
# dyadic probe fractions: exact doubles in both engines
_HQ_PROBES = (("p50", 1, 2), ("p75", 3, 4), ("p9375", 15, 16))


@query(
    "q230_histogram_quantile_error",
    oracle=f"""
    WITH h AS (
      SELECT CAST(floor(l_extendedprice / {_HQ_BIN}) AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY bin
    ),
    c AS (
      SELECT bin, cnt,
             CAST(SUM(cnt) OVER (ORDER BY bin
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER () AS BIGINT) AS n
      FROM h
    ),
    probes AS (
      SELECT * FROM (VALUES {", ".join(f"('{lbl}', {num}, {den})" for lbl, num, den in _HQ_PROBES)})
        AS t(lbl, num, den)
    ),
    est AS (
      SELECT p.lbl, c.n,
             (p.num * c.n + p.den - 1) // p.den AS need,
             MIN(c.bin) AS bin
      FROM probes p JOIN c ON c.cum >= (p.num * c.n + p.den - 1) // p.den
      GROUP BY p.lbl, c.n, need
    ),
    est2 AS (
      SELECT e.lbl, e.n, e.need,
             CAST(e.bin * {int(_HQ_BIN * 1_000_000)}
                  + ({int(_HQ_BIN * 1_000_000)}
                     * (e.need - (c.cum - c.cnt))) // c.cnt
                  AS BIGINT) AS est_micro
      FROM est e JOIN c ON c.bin = e.bin
    ),
    truth AS (
      SELECT {", ".join(f"CAST(floor(quantile_cont(l_extendedprice, CAST({num} AS DOUBLE) / {den}) * 1000000) AS BIGINT) AS t_{lbl}" for lbl, num, den in _HQ_PROBES)}
      FROM lineitem
    )
    SELECT e.lbl AS probe, e.n,
           e.est_micro,
           CASE e.lbl {" ".join(f"WHEN '{lbl}' THEN t.t_{lbl}" for lbl, _, _ in _HQ_PROBES)} END AS true_micro,
           abs(e.est_micro - CASE e.lbl {" ".join(f"WHEN '{lbl}' THEN t.t_{lbl}" for lbl, _, _ in _HQ_PROBES)} END)
             AS abs_err_micro
    FROM est2 e CROSS JOIN truth t
    """,
    tags=("agg", "percentile", "calibration", "histogram"),
)
def q230_histogram_quantile_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-quantile ACCURACY: estimate p50/p75/p93.75 from the
    equi-width price histogram (cumulative bin scan + linear
    interpolation inside the crossing bin) and report each estimate
    against the exact interpolated percentile — q214 calibrates the
    dedup sketch, this calibrates the quantile sketch every
    monitoring dashboard actually serves (a histogram is the
    mergeable, streaming-safe quantile structure; the readout says
    whether bin width {_HQ_BIN} is tight enough to trust).

    Exactness: histogram counts, the required-rank arithmetic
    (need = ceil(p*n) in integers), and the in-bin interpolation
    (micro-dollars, truncated div) are all integer; the exact
    percentile rides q99's interpolated-percentile surface floored to
    micro-dollars; probe fractions are dyadic so the double p is
    bit-identical both engines.

    Scale: ONE map-side-combined histogram aggregation (bounded bin
    frame) + ONE exact-percentile aggregation for ground truth (the
    expensive half — at 100 TB you run the histogram side alone and
    spot-check truth on a sample); the cumulative scan and probe join
    run on the |bins| frame.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    h = (
        li.select(
            F.floor(F.col("l_extendedprice") / F.lit(_HQ_BIN))
            .cast("long")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    c = h.select(
        "bin",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    ).localCheckpoint()  # |bins| frame, feeds the probe join twice
    probes = spark.createDataFrame(
        list(_HQ_PROBES), "lbl string, num long, den long"
    )
    bin_micro = int(_HQ_BIN * 1_000_000)
    est = (
        F.broadcast(probes)
        .join(c, F.col("cum") >= F.expr("(num * n + den - 1) div den"))
        .groupBy("lbl", "n", F.expr("(num * n + den - 1) div den").alias("need"))
        .agg(F.min("bin").alias("bin"))
    )
    est2 = est.join(c.select("bin", "cnt", "cum"), "bin").select(
        "lbl",
        "n",
        F.expr(
            f"bin * {bin_micro} + ({bin_micro} * (need - (cum - cnt))) div cnt"
        )
        .cast("long")
        .alias("est_micro"),
    )
    truth = li.agg(
        *[
            F.floor(
                F.percentile("l_extendedprice", F.lit(num / den)) * 1_000_000
            )
            .cast("long")
            .alias(f"t_{lbl}")
            for lbl, num, den in _HQ_PROBES
        ]
    )
    true_col = None
    for lbl, _, _ in _HQ_PROBES:
        branch = F.when(F.col("lbl") == lbl, F.col(f"t_{lbl}"))
        true_col = branch if true_col is None else true_col.when(
            F.col("lbl") == lbl, F.col(f"t_{lbl}")
        )
    return est2.join(F.broadcast(truth)).select(
        F.col("lbl").alias("probe"),
        "n",
        "est_micro",
        true_col.alias("true_micro"),
        F.abs(F.col("est_micro") - true_col).alias("abs_err_micro"),
    )


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct sketch — DETERMINISTIC, hence exactly
# oracle-checkable (the calibration-not-rows-only answer to q20's
# engine-specific approx_count_distinct)
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_DOMAIN = 1 << 32  # md5_hash32 is uniform on [0, 2^32)


def _kmv_hash_sql() -> str:
    from target_hdfs_spark.functions.hashing import md5_hash32_sql

    return md5_hash32_sql("CAST(user_id AS VARCHAR)")


@query(
    "q239_kmv_distinct_sketch",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, {_kmv_hash_sql()} AS hv FROM events
    ),
    exact AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type
    ),
    ranked AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    sk AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_in_sketch,
             MAX(CASE WHEN rn = {_KMV_K} THEN hv END) AS kth_hash
      FROM ranked WHERE rn <= {_KMV_K}
      GROUP BY event_type
    ),
    est AS (
      SELECT s.event_type,
             CAST(COALESCE(s.kth_hash, -1) AS BIGINT) AS kth_hash,
             CAST(CASE WHEN s.kth_hash IS NULL THEN s.n_in_sketch
                  ELSE ({_KMV_K} - 1) * {_KMV_DOMAIN}
                       // greatest(s.kth_hash, 1) END AS BIGINT)
               AS est_distinct
      FROM sk s
    )
    SELECT x.event_type, x.n_exact, e.kth_hash, e.est_distinct,
           CAST(abs(e.est_distinct - x.n_exact) * 1000000 // x.n_exact
                AS BIGINT) AS err_ppm
    FROM exact x JOIN est e ON e.event_type = x.event_type
    """,
    tags=("sketch", "distinct", "calibration", "observability"),
)
def q239_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k / k-minimum-values) DISTINCT sketch per event
    type, with its estimate judged against the exact distinct count —
    the mergeable distinct-count sketch rebuilt on the engine's
    portable md5 hash, which makes it fully DETERMINISTIC and
    therefore exactly value-checkable (q20's approx_count_distinct
    is rows-only by design because HLL internals are
    engine-specific; this sketch retires that trade-off for the
    bottom-k family: same mergeability — union two sketches by
    keeping the k smallest of the union — zero RNG). Estimator:
    the classic (k-1) * 2^32 div h_(k) on the k-th smallest distinct
    hash; groups holding fewer than k distinct hashes report their
    exact sketch size.

    Exactness: both engines compute identical md5-derived hashes,
    identical k-th order statistics, and identical integer division;
    err_ppm pins the calibration end-to-end.

    Scale: the rank <= k filter over the per-type window compiles to
    WindowGroupLimit — each scan task keeps only its local bottom-k
    per group BEFORE the shuffle, so the final per-group sort touches
    at most tasks x k rows, never |users| (the single-partition
    window trap this plan is specifically shaped to avoid; pinned).
    The exact side is one count_distinct with partial aggregation.
    At a billion keys per group, state is still k hashes per group.
    """
    from target_hdfs_spark.functions.hashing import md5_hash32

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    h = ev.select(
        "event_type",
        md5_hash32(F.col("user_id").cast("string")).alias("hv"),
    ).distinct()
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    w = Window.partitionBy("event_type").orderBy("hv")
    topk = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
    )
    sk = topk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_in_sketch"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("hv"))).alias("_kth"),
    )
    est = sk.select(
        "event_type",
        F.coalesce(F.col("_kth"), F.lit(-1)).cast("long").alias("kth_hash"),
        F.when(F.col("_kth").isNull(), F.col("n_in_sketch"))
        .otherwise(
            F.expr(
                f"({_KMV_K} - 1) * {_KMV_DOMAIN} div greatest(_kth, 1)"
            )
        )
        .cast("long")
        .alias("est_distinct"),
    )
    return exact.join(est, "event_type").select(
        "event_type",
        "n_exact",
        "kth_hash",
        "est_distinct",
        F.expr("abs(est_distinct - n_exact) * 1000000 div n_exact")
        .cast("long")
        .alias("err_ppm"),
    )


# ---------------------------------------------------------------------------
# Theta-sketch set operations over the KMV sketches (q239's family):
# distinct-intersection estimation, deterministically
# ---------------------------------------------------------------------------


@query(
    "q241_theta_intersection",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, user_id, {_kmv_hash_sql()} AS hv
      FROM events
    ),
    ranked AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM (SELECT DISTINCT event_type, hv FROM h)
    ),
    sk AS (
      SELECT event_type, list(hv ORDER BY hv) AS mins,
             CASE WHEN COUNT(*) = {_KMV_K} THEN MAX(hv)
                  ELSE {_KMV_DOMAIN} END AS theta
      FROM ranked WHERE rn <= {_KMV_K}
      GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             least(a.theta, b.theta) AS theta,
             len(list_filter(list_intersect(a.mins, b.mins),
                             x -> x < least(a.theta, b.theta))) AS n_common
      FROM sk a JOIN sk b ON a.event_type < b.event_type
    ),
    exact AS (
      SELECT x.event_type AS type_a, y.event_type AS type_b,
             CAST(COUNT(DISTINCT x.user_id) AS BIGINT) AS exact_common
      FROM (SELECT DISTINCT event_type, user_id FROM events) x
      JOIN (SELECT DISTINCT event_type, user_id FROM events) y
        ON y.user_id = x.user_id AND x.event_type < y.event_type
      GROUP BY 1, 2
    )
    SELECT e.type_a, e.type_b, e.exact_common,
           CAST(p.n_common AS BIGINT) AS sketch_common,
           CAST(p.n_common * {_KMV_DOMAIN} // p.theta AS BIGINT)
             AS est_common
    FROM exact e
    JOIN pairs p ON p.type_a = e.type_a AND p.type_b = e.type_b
    """,
    tags=("sketch", "distinct", "set-ops", "calibration"),
)
def q241_theta_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THETA-SKETCH set operations on q239's KMV sketches:
    distinct-INTERSECTION estimation per event-type pair ("how many
    users both viewed and purchased") from two bottom-k sketches
    alone — the audience-overlap question that exact distinct-joins
    answer at full shuffle cost and theta sketches answer from
    2 x k integers. theta = min(kth_a, kth_b) (the coarser sample
    rate); hashes below theta present in BOTH sketches form an
    unbiased sample of the intersection; est = n_common * 2^32 div
    theta. Deterministic md5 base hash -> the oracle rebuilds the
    identical sketches and the calibration (est vs the exact
    distinct-user intersection) is value-checked end-to-end.

    Scale: sketches come from the q239 WindowGroupLimit shape (never
    |users| in one sort); each sketch is k integers, so the pair
    stage is a |types|² broadcast self-join over k-length arrays.
    The exact side — needed here only as calibration truth — is the
    user-keyed distinct self-join, the thing the sketch path lets a
    100 TB pipeline skip.
    """
    from target_hdfs_spark.functions.hashing import md5_hash32

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    h = ev.select(
        "event_type",
        "user_id",
        md5_hash32(F.col("user_id").cast("string")).alias("hv"),
    )
    hv = h.select("event_type", "hv").distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    topk = (
        hv.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
    )
    sk = topk.groupBy("event_type").agg(
        F.array_sort(F.collect_list("hv")).alias("mins"),
        F.when(F.count(F.lit(1)) == _KMV_K, F.max("hv"))
        .otherwise(F.lit(_KMV_DOMAIN))
        .alias("theta"),
    )
    a = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("mins").alias("mins_a"),
        F.col("theta").alias("theta_a"),
    )
    b = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("mins").alias("mins_b"),
        F.col("theta").alias("theta_b"),
    )
    pairs = (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.least("theta_a", "theta_b").alias("theta"),
            F.size(
                F.filter(
                    F.array_intersect("mins_a", "mins_b"),
                    lambda x: x < F.least(F.col("theta_a"), F.col("theta_b")),
                )
            ).alias("n_common"),
        )
    )
    du = h.select("event_type", "user_id").distinct()
    x = du.select(F.col("event_type").alias("type_a"), "user_id")
    y = du.select(F.col("event_type").alias("type_b"), "user_id")
    exact = (
        x.join(y, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count_distinct("user_id").cast("long").alias("exact_common"))
    )
    return exact.join(F.broadcast(pairs), ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "exact_common",
        F.col("n_common").cast("long").alias("sketch_common"),
        F.expr(f"n_common * {_KMV_DOMAIN} div theta")
        .cast("long")
        .alias("est_common"),
    )


# ---------------------------------------------------------------------------
# KMV mergeability — the distributed-sketch THEOREM, value-checked
# ---------------------------------------------------------------------------


@query(
    "q246_kmv_union_merge",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, {_kmv_hash_sql()} AS hv FROM events
    ),
    part_ranked AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    merged_pool AS (
      SELECT DISTINCT hv FROM part_ranked WHERE rn <= {_KMV_K}
    ),
    merged_ranked AS (
      SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM merged_pool
    ),
    direct_ranked AS (
      SELECT hv, row_number() OVER (ORDER BY hv) AS rn
      FROM (SELECT DISTINCT hv FROM h)
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_m,
             MAX(CASE WHEN rn = {_KMV_K} THEN hv END) AS kth_m
      FROM merged_ranked WHERE rn <= {_KMV_K}
    ),
    d AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_d,
             MAX(CASE WHEN rn = {_KMV_K} THEN hv END) AS kth_d
      FROM direct_ranked WHERE rn <= {_KMV_K}
    ),
    x AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact FROM events
    )
    SELECT x.n_exact,
           CAST(COALESCE(m.kth_m, -1) AS BIGINT) AS merged_kth,
           CAST(CASE WHEN m.kth_m IS NULL THEN m.n_m
                ELSE ({_KMV_K} - 1) * {_KMV_DOMAIN}
                     // greatest(m.kth_m, 1) END AS BIGINT) AS merged_est,
           CAST(COALESCE(d.kth_d, -1) AS BIGINT) AS direct_kth,
           CAST(CASE WHEN d.kth_d IS NULL THEN d.n_d
                ELSE ({_KMV_K} - 1) * {_KMV_DOMAIN}
                     // greatest(d.kth_d, 1) END AS BIGINT) AS direct_est,
           (m.n_m = d.n_d AND COALESCE(m.kth_m, -1) = COALESCE(d.kth_d, -1))
             AS sketches_match
    FROM m CROSS JOIN d CROSS JOIN x
    """,
    tags=("sketch", "distinct", "mergeability", "calibration"),
)
def q246_kmv_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV MERGEABILITY, value-checked as a theorem: the global
    sketch assembled by MERGING the per-event-type partial sketches
    (bottom-k of the union of each part's bottom-k) must equal the
    sketch built directly from all users — because any hash in the
    global bottom-k is necessarily within its own part's bottom-k,
    partial sketches lose nothing the global view needs. This is THE
    property that makes the sketch distributable (executors build
    partials, the driver merges k integers each) and incrementally
    maintainable (yesterday's sketch merges with today's delta);
    sketches_match = true is asserted by VALUE against the oracle,
    which replays both constructions independently.

    Exactness: both constructions and both estimates are
    deterministic integers; the comparison is part of the checked
    row.

    Scale: the partial pass is q239's WindowGroupLimit shape; the
    merge pool is <= |types| x k integers — driver-mergeable by
    design; the direct side costs one more global bottom-k (itself
    group-limited). The exact count appears only as calibration.
    """
    from target_hdfs_spark.functions.hashing import md5_hash32

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    h = ev.select(
        "event_type",
        md5_hash32(F.col("user_id").cast("string")).alias("hv"),
    ).distinct().localCheckpoint()  # feeds partial AND direct sides
    w_part = Window.partitionBy("event_type").orderBy("hv")
    pool = (
        h.withColumn("rn", F.row_number().over(w_part))
        .filter(F.col("rn") <= _KMV_K)
        .select("hv")
        .distinct()
    )
    w_all = Window.orderBy("hv")
    merged = (
        pool.withColumn("rn", F.row_number().over(w_all))
        .filter(F.col("rn") <= _KMV_K)
        .agg(
            F.count(F.lit(1)).alias("n_m"),
            F.max(F.when(F.col("rn") == _KMV_K, F.col("hv"))).alias("kth_m"),
        )
    )
    direct = (
        h.select("hv")
        .distinct()
        .withColumn("rn", F.row_number().over(w_all))
        .filter(F.col("rn") <= _KMV_K)
        .agg(
            F.count(F.lit(1)).alias("n_d"),
            F.max(F.when(F.col("rn") == _KMV_K, F.col("hv"))).alias("kth_d"),
        )
    )
    exact = ev.agg(F.count_distinct("user_id").cast("long").alias("n_exact"))
    est = lambda kth, n: (  # noqa: E731
        F.when(F.col(kth).isNull(), F.col(n))
        .otherwise(
            F.expr(f"({_KMV_K} - 1) * {_KMV_DOMAIN} div greatest({kth}, 1)")
        )
        .cast("long")
    )
    return (
        merged.join(F.broadcast(direct))
        .join(F.broadcast(exact))
        .select(
            "n_exact",
            F.coalesce(F.col("kth_m"), F.lit(-1)).cast("long").alias("merged_kth"),
            est("kth_m", "n_m").alias("merged_est"),
            F.coalesce(F.col("kth_d"), F.lit(-1)).cast("long").alias("direct_kth"),
            est("kth_d", "n_d").alias("direct_est"),
            (
                (F.col("n_m") == F.col("n_d"))
                & (
                    F.coalesce(F.col("kth_m"), F.lit(-1))
                    == F.coalesce(F.col("kth_d"), F.lit(-1))
                )
            ).alias("sketches_match"),
        )
    )


# ---------------------------------------------------------------------------
# Sketch family: CountMin inner product — join-size estimation from
# two 4x512 integer sketches (q240's build, q209's question)
# ---------------------------------------------------------------------------

_CMJ_ROWS = 4
_CMJ_WIDTH = 512


def _cmj_coeffs():
    from target_hdfs_spark.functions.hashing import hash_coeffs

    return hash_coeffs(_CMJ_ROWS)


def _cmj_bucket_sql(i: int) -> str:
    from target_hdfs_spark.functions.hashing import MERSENNE_P

    a, b = _cmj_coeffs()[i]
    return f"(({a} * h + {b}) % {MERSENNE_P}) % {_CMJ_WIDTH}"


def _cmj_oracle() -> str:
    from target_hdfs_spark.functions.hashing import md5_hash32_sql

    h = md5_hash32_sql("CAST(user_id AS VARCHAR)")
    cell_parts = " UNION ALL ".join(
        f"SELECT event_type, {i} AS r, {_cmj_bucket_sql(i)} AS bkt, c FROM uc"
        for i in range(_CMJ_ROWS)
    )
    return f"""
    WITH uc AS MATERIALIZED (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c,
             {h} AS h
      FROM events GROUP BY event_type, user_id
    ),
    cells AS MATERIALIZED (
      SELECT event_type, r, bkt, CAST(SUM(c) AS BIGINT) AS cell
      FROM ({cell_parts}) GROUP BY 1, 2, 3
    ),
    dots AS (
      SELECT ca.event_type AS type_x, cb.event_type AS type_y, ca.r,
             CAST(SUM(ca.cell * cb.cell) AS BIGINT) AS dot
      FROM cells ca
      JOIN cells cb ON ca.r = cb.r AND ca.bkt = cb.bkt
                    AND ca.event_type < cb.event_type
      GROUP BY 1, 2, 3
    ),
    est AS (
      SELECT type_x, type_y, CAST(MIN(dot) AS BIGINT) AS est_join_rows
      FROM dots GROUP BY 1, 2
    ),
    ex AS (
      SELECT x.event_type AS type_x, y.event_type AS type_y,
             CAST(SUM(x.c * y.c) AS BIGINT) AS exact_join_rows
      FROM uc x JOIN uc y ON x.user_id = y.user_id
                          AND x.event_type < y.event_type
      GROUP BY 1, 2
    )
    SELECT e.type_x, e.type_y,
           CAST(COALESCE(x.exact_join_rows, 0) AS BIGINT) AS exact_join_rows,
           e.est_join_rows,
           CAST((e.est_join_rows - COALESCE(x.exact_join_rows, 0)) * 1000000
                // greatest(COALESCE(x.exact_join_rows, 0), 1) AS BIGINT)
             AS over_ppm
    FROM est e LEFT JOIN ex x
      ON x.type_x = e.type_x AND x.type_y = e.type_y
    """


@query(
    "q249_countmin_join_estimate",
    oracle=_cmj_oracle(),
    tags=("sketch", "planner", "calibration", "observability"),
)
def q249_countmin_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE ESTIMATION from CountMin sketches: for every ordered
    event-type pair, |A join B on user_id| estimated as the classic
    sketch inner product — min over hash rows of sum_bkt
    cellA[r][bkt] * cellB[r][bkt] — next to the exact answer
    (sum over common users of cA(u) * cB(u)) and the one-sided
    overestimate in ppm. This is how a planner prices an equi-join
    WITHOUT touching the data twice: each side keeps a
    {_CMJ_ROWS}x{_CMJ_WIDTH} integer matrix ({_CMJ_ROWS * _CMJ_WIDTH}
    cells per stream, mergeable across partitions by addition), and
    the estimate costs a {_CMJ_ROWS}x{_CMJ_WIDTH}-bounded join of two
    sketches. q209 forecasts join sizes from exact per-key stats;
    this does it from sketches a stream can maintain (the batch
    calibration of countmin_stream's matrices), with the
    never-underestimates guarantee value-checked per pair. Same
    build as q240 (portable md5-32 base hash, minhash coefficient
    family), so the sketches ARE the engine's production sketches.

    Exactness: every cell, dot product, min, and the exact join size
    are deterministic integers; one truncated ppm division
    (greatest(exact, 1) guards empty intersections; est pairs missing
    an exact row keep exact = 0 via the left join in BOTH engines).

    Scale: one events pass collapses to the |types x users| count
    frame (map-side combined); the sketch build is {_CMJ_ROWS}
    map-side bucket passes over it onto |types| x {_CMJ_ROWS} x
    {_CMJ_WIDTH} cells; dots join cells to cells (tiny); the exact
    side — the expensive one, which exists here only as calibration —
    is a user-keyed self-join of the count frame. At 100 TB you keep
    the sketches and drop the exact side; nothing in the estimate
    path scales with the corpus.

    Cites reference behavior: none (beyond-reference operator).
    """
    from target_hdfs_spark.functions.hashing import MERSENNE_P, md5_hash32

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    uc = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "event_type",
            "c",
            F.col("user_id"),
            md5_hash32(F.col("user_id").cast("string")).alias("h"),
        )
        .localCheckpoint()  # feeds the sketch build AND the exact side
    )
    bkts = F.array(
        *[
            (F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE_P % _CMJ_WIDTH
            for a, b in _cmj_coeffs()
        ]
    )
    # ONE shuffle builds all rows: posexplode the per-row bucket array
    # and aggregate on (type, r, bkt) — the union-of-row-passes shape
    # costs one exchange per hash row for the same result
    cells = (
        uc.select("event_type", "c", F.posexplode(bkts).alias("r", "bkt"))
        .groupBy("event_type", "r", "bkt")
        .agg(F.sum("c").alias("cell"))
    )
    ca = cells.select(
        F.col("event_type").alias("type_x"), "r", "bkt",
        F.col("cell").alias("cell_x"),
    )
    cb = cells.select(
        F.col("event_type").alias("type_y"),
        F.col("r").alias("_r"), F.col("bkt").alias("_bkt"),
        F.col("cell").alias("cell_y"),
    )
    dots = (
        ca.join(
            cb,
            (F.col("r") == F.col("_r"))
            & (F.col("bkt") == F.col("_bkt"))
            & (F.col("type_x") < F.col("type_y")),
        )
        .groupBy("type_x", "type_y", "r")
        .agg(F.sum(F.col("cell_x") * F.col("cell_y")).alias("dot"))
    )
    est = dots.groupBy("type_x", "type_y").agg(
        F.min("dot").cast("long").alias("est_join_rows")
    )
    ux = uc.select(
        F.col("event_type").alias("type_x"), "user_id",
        F.col("c").alias("cx"),
    )
    uy = uc.select(
        F.col("event_type").alias("type_y"),
        F.col("user_id").alias("_uid"),
        F.col("c").alias("cy"),
    )
    exact = (
        ux.join(
            uy,
            (F.col("user_id") == F.col("_uid"))
            & (F.col("type_x") < F.col("type_y")),
        )
        .groupBy("type_x", "type_y")
        .agg(F.sum(F.col("cx") * F.col("cy")).cast("long").alias("exact_join_rows"))
    )
    return est.join(exact, ["type_x", "type_y"], "left").select(
        "type_x",
        "type_y",
        F.coalesce("exact_join_rows", F.lit(0)).cast("long").alias(
            "exact_join_rows"
        ),
        "est_join_rows",
        F.expr(
            "(est_join_rows - coalesce(exact_join_rows, 0)) * 1000000"
            " div greatest(coalesce(exact_join_rows, 0), 1)"
        )
        .cast("long")
        .alias("over_ppm"),
    )


# ---------------------------------------------------------------------------
# Sketch family: Bloom filter membership — deterministic build + probe
# + false-positive calibration (membership completes the trio next to
# KMV/theta = distinct and CountMin = frequency)
# ---------------------------------------------------------------------------

_BLOOM_K = 4
_BLOOM_M = 4096  # bit positions


def _bloom_pos_sql(i: int) -> str:
    from target_hdfs_spark.functions.hashing import MERSENNE_P, hash_coeffs

    a, b = hash_coeffs(_BLOOM_K)[i]
    return f"(({a} * h + {b}) % {MERSENNE_P}) % {_BLOOM_M}"


def _bloom_oracle() -> str:
    from target_hdfs_spark.functions.hashing import md5_hash32_sql

    h = md5_hash32_sql("CAST(user_id AS VARCHAR)")
    probe_parts = " UNION ALL ".join(
        f"SELECT user_id, is_member, {_bloom_pos_sql(i)} AS pos FROM users"
        for i in range(_BLOOM_K)
    )
    return f"""
    WITH users AS MATERIALIZED (
      SELECT user_id,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS is_member,
             {h} AS h
      FROM events GROUP BY user_id
    ),
    probe AS MATERIALIZED ({probe_parts}),
    pos_set AS MATERIALIZED (
      SELECT DISTINCT pos FROM probe WHERE is_member = 1
    ),
    matched AS (
      SELECT p.user_id, p.is_member,
             CAST(COUNT(*) AS BIGINT) AS n_match
      FROM probe p JOIN pos_set s ON s.pos = p.pos
      GROUP BY 1, 2
    ),
    pos_users AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_positive,
             CAST(SUM(is_member) AS BIGINT) AS n_true_positive
      FROM matched WHERE n_match = {_BLOOM_K}
    ),
    totals AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
             CAST(SUM(is_member) AS BIGINT) AS n_inserted
      FROM users
    ),
    bits AS (SELECT CAST(COUNT(*) AS BIGINT) AS bits_set FROM pos_set)
    SELECT t.n_inserted, b.bits_set, t.n_probes, p.n_positive,
           p.n_true_positive,
           p.n_positive - p.n_true_positive AS n_false_positive,
           CAST((p.n_positive - p.n_true_positive) * 1000000
                // greatest(t.n_probes - t.n_inserted, 1) AS BIGINT)
             AS fp_ppm
    FROM totals t CROSS JOIN bits b CROSS JOIN pos_users p
    """


@query(
    "q250_bloom_calibration",
    oracle=_bloom_oracle(),
    tags=("sketch", "membership", "calibration", "observability"),
)
def q250_bloom_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM FILTER membership, deterministic end-to-end: build a
    {_BLOOM_K}-hash / {_BLOOM_M}-bit filter over purchasing users
    (the filter is the DISTINCT set of bit positions — <= {_BLOOM_M}
    rows, the relational rendering of the bit array), probe EVERY
    user, and report the calibration row: inserted count, bits set,
    positives, true positives, false positives, and the
    false-positive rate over non-members in ppm. Completes the
    deterministic sketch trio — KMV/theta answer distinct (q239/
    q241/q246), CountMin answers frequency (q240/q249), Bloom answers
    MEMBERSHIP — the filter a 100 TB pipeline ships to executors to
    skip non-matching rows before a join (Spark's own runtime bloom
    pushdown, made value-checkable: same portable md5-32 base hash and
    coefficient family, so the DuckDB oracle rebuilds the identical
    filter). No-false-negatives is checked BY VALUE:
    n_true_positive = n_inserted in the emitted row.

    Exactness: positions, matches, and counts are deterministic
    integers; a probe is positive iff all {_BLOOM_K} of its position
    rows (duplicates preserved — two hash functions may collide on a
    position) find a set bit; one truncated ppm division
    (greatest guards the all-members edge).

    Scale: one events pass collapses to the |users| frame; probes are
    {_BLOOM_K} map-side position expressions over it; the filter side
    is <= {_BLOOM_M} distinct positions (broadcastable by
    construction); the match join carries |users| x {_BLOOM_K} rows
    into a user-keyed count. Nothing is corpus-quadratic; the filter
    itself is O({_BLOOM_M}) regardless of corpus size — the point of
    a Bloom filter.

    Cites reference behavior: none (beyond-reference operator).
    """
    from target_hdfs_spark.functions.hashing import (
        MERSENNE_P,
        hash_coeffs,
        md5_hash32,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    users = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("is_member")
        )
        .select(
            "user_id",
            "is_member",
            md5_hash32(F.col("user_id").cast("string")).alias("h"),
        )
        .localCheckpoint()  # feeds probes, filter build, and totals
    )
    probe = None
    for a, b in hash_coeffs(_BLOOM_K):
        part = users.select(
            "user_id",
            "is_member",
            ((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE_P % _BLOOM_M)
            .alias("pos"),
        )
        probe = part if probe is None else probe.unionByName(part)
    pos_set = (
        probe.filter(F.col("is_member") == 1).select("pos").distinct()
    )
    matched = (
        probe.join(F.broadcast(pos_set), "pos")
        .groupBy("user_id", "is_member")
        .agg(F.count(F.lit(1)).alias("n_match"))
    )
    pos_users = matched.filter(F.col("n_match") == _BLOOM_K).agg(
        F.count(F.lit(1)).cast("long").alias("n_positive"),
        F.sum("is_member").cast("long").alias("n_true_positive"),
    )
    totals = users.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum("is_member").cast("long").alias("n_inserted"),
    )
    bits = pos_set.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    return (
        totals.crossJoin(F.broadcast(bits))
        .crossJoin(F.broadcast(pos_users))
        .select(
            "n_inserted",
            "bits_set",
            "n_probes",
            "n_positive",
            "n_true_positive",
            (F.col("n_positive") - F.col("n_true_positive"))
            .cast("long")
            .alias("n_false_positive"),
            F.expr(
                "(n_positive - n_true_positive) * 1000000"
                " div greatest(n_probes - n_inserted, 1)"
            )
            .cast("long")
            .alias("fp_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Sketch family: merge laws for CountMin and Bloom, value-checked as
# theorems (q246 proved KMV's; this completes the trio — the property
# that makes every sketch here distributable)
# ---------------------------------------------------------------------------


def _merge_laws_oracle() -> str:
    from target_hdfs_spark.functions.hashing import md5_hash32_sql

    h = md5_hash32_sql("CAST(user_id AS VARCHAR)")
    cm_parts = " UNION ALL ".join(
        f"SELECT event_type, {i} AS r, {_cmj_bucket_sql(i)} AS bkt, c FROM uc"
        for i in range(_CMJ_ROWS)
    )
    bloom_parts = " UNION ALL ".join(
        f"SELECT event_type, {_bloom_pos_sql(i)} AS pos FROM uc"
        for i in range(_BLOOM_K)
    )
    return f"""
    WITH uc AS MATERIALIZED (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c, {h} AS h
      FROM events GROUP BY event_type, user_id
    ),
    cm_partials AS MATERIALIZED (
      SELECT event_type, r, bkt, CAST(SUM(c) AS BIGINT) AS cell
      FROM ({cm_parts}) GROUP BY 1, 2, 3
    ),
    cm_merged AS (
      SELECT r, bkt, CAST(SUM(cell) AS BIGINT) AS cell
      FROM cm_partials GROUP BY 1, 2
    ),
    cm_direct AS (
      SELECT r, bkt, CAST(SUM(c) AS BIGINT) AS cell FROM (
        SELECT user_id, CAST(SUM(c) AS BIGINT) AS c, h
        FROM uc GROUP BY user_id, h
      ) g, (SELECT unnest(generate_series(0, {_CMJ_ROWS - 1})) AS r) x,
      LATERAL (SELECT CASE x.r {" ".join(
          f"WHEN {i} THEN {_cmj_bucket_sql(i).replace('h', 'g.h')}"
          for i in range(_CMJ_ROWS))} END AS bkt)
      GROUP BY 1, 2
    ),
    cm_diff AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_diff FROM (
        SELECT r, bkt, cell FROM cm_merged
        EXCEPT SELECT r, bkt, cell FROM cm_direct
        UNION ALL
        (SELECT r, bkt, cell FROM cm_direct
         EXCEPT SELECT r, bkt, cell FROM cm_merged)
      )
    ),
    bl_partials AS MATERIALIZED (
      SELECT DISTINCT event_type, pos FROM ({bloom_parts})
    ),
    bl_merged AS (SELECT DISTINCT pos FROM bl_partials),
    bl_direct AS (
      SELECT DISTINCT pos FROM ({bloom_parts.replace("event_type, ", "")})
    ),
    bl_diff AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_diff FROM (
        SELECT pos FROM bl_merged EXCEPT SELECT pos FROM bl_direct
        UNION ALL
        (SELECT pos FROM bl_direct EXCEPT SELECT pos FROM bl_merged)
      )
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_partials,
             CAST(SUM(cell) AS BIGINT) AS cm_total_mass
      FROM cm_partials
    ),
    bl_stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS bloom_bits_set FROM bl_merged
    )
    SELECT s.n_partials, s.cm_total_mass, b.bloom_bits_set,
           (c.n_diff = 0) AS cm_merge_matches,
           (l.n_diff = 0) AS bloom_merge_matches
    FROM stats s CROSS JOIN bl_stats b
    CROSS JOIN cm_diff c CROSS JOIN bl_diff l
    """


@query(
    "q251_sketch_merge_laws",
    oracle=_merge_laws_oracle(),
    tags=("sketch", "calibration", "observability"),
)
def q251_sketch_merge_laws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE LAWS for the other two sketch families, value-checked as
    theorems (q246 proved KMV's bottom-k mergeability; this completes
    the trio): per-event-type CountMin partials merged by CELL
    ADDITION must equal the sketch built directly over the global
    per-user counts (addition is associative/commutative), and
    per-type Bloom partials merged by POSITION UNION must equal the
    filter built directly over all users (union is a semilattice).
    cm_merge_matches and bloom_merge_matches are asserted BY VALUE
    against an oracle that replays both constructions independently —
    the properties that let executors build partials and a driver (or
    a later day's job) merge k integers instead of rescanning 100 TB,
    and exactly the algebra the streaming twins' unconditional parity
    rests on (countmin_stream, bloom_filter_stream).

    Exactness: every cell, position, and symmetric-difference count is
    a deterministic integer; the booleans ride the checked row.

    Scale: one events pass to the |types x users| count frame; CM
    partials are {_CMJ_ROWS} map-side bucket passes onto |types| x
    {_CMJ_ROWS} x {_CMJ_WIDTH} cells; the direct side re-aggregates
    users globally first (one more vocab... user-bounded pass); Bloom
    sides are position projections with distincts on <= {_BLOOM_M}
    rows. The comparison frames are sketch-sized, never corpus-sized.

    Cites reference behavior: none (beyond-reference operator).
    """
    from target_hdfs_spark.functions.hashing import (
        MERSENNE_P,
        hash_coeffs,
        md5_hash32,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    uc = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "event_type",
            "user_id",
            "c",
            md5_hash32(F.col("user_id").cast("string")).alias("h"),
        )
        .localCheckpoint()
    )
    cm_bkts = F.array(
        *[
            (F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE_P % _CMJ_WIDTH
            for a, b in hash_coeffs(_CMJ_ROWS)
        ]
    )
    cm_partials = (
        uc.select("event_type", "c", F.posexplode(cm_bkts).alias("r", "bkt"))
        .groupBy("event_type", "r", "bkt")
        .agg(F.sum("c").alias("cell"))
        .localCheckpoint()
    )
    cm_merged = cm_partials.groupBy("r", "bkt").agg(
        F.sum("cell").alias("cell")
    )
    gu = uc.groupBy("user_id", "h").agg(F.sum("c").alias("c"))
    cm_direct = (
        gu.select("c", F.posexplode(cm_bkts).alias("r", "bkt"))
        .groupBy("r", "bkt")
        .agg(F.sum("c").alias("cell"))
    )
    cm_diff = (
        cm_merged.exceptAll(cm_direct)
        .unionByName(cm_direct.exceptAll(cm_merged))
        .agg(F.count(F.lit(1)).alias("n_diff"))
    )
    bl_partials = None
    for a, b in hash_coeffs(_BLOOM_K):
        part = uc.select(
            "event_type",
            ((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE_P % _BLOOM_M)
            .alias("pos"),
        )
        bl_partials = (
            part if bl_partials is None else bl_partials.unionByName(part)
        )
    bl_partials = bl_partials.distinct().localCheckpoint()
    bl_merged = bl_partials.select("pos").distinct()
    # the THEOREM needs an independent construction on the direct
    # side: rebuild from per-user hashes without the per-type stage
    bl_direct = None
    for a, b in hash_coeffs(_BLOOM_K):
        part = gu.select(
            ((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE_P % _BLOOM_M)
            .alias("pos")
        )
        bl_direct = part if bl_direct is None else bl_direct.unionByName(part)
    bl_direct = bl_direct.distinct()
    bl_diff = (
        bl_merged.exceptAll(bl_direct)
        .unionByName(bl_direct.exceptAll(bl_merged))
        .agg(F.count(F.lit(1)).alias("n_diff"))
    )
    stats = cm_partials.agg(
        F.count(F.lit(1)).cast("long").alias("n_partials"),
        F.sum("cell").cast("long").alias("cm_total_mass"),
    )
    bl_stats = bl_merged.agg(
        F.count(F.lit(1)).cast("long").alias("bloom_bits_set")
    )
    return (
        stats.crossJoin(F.broadcast(bl_stats))
        .crossJoin(F.broadcast(cm_diff))
        .crossJoin(F.broadcast(bl_diff.withColumnRenamed("n_diff", "_bld")))
        .select(
            "n_partials",
            "cm_total_mass",
            "bloom_bits_set",
            (F.col("n_diff") == 0).alias("cm_merge_matches"),
            (F.col("_bld") == 0).alias("bloom_merge_matches"),
        )
    )


# ---------------------------------------------------------------------------
# Sketch family: KMV rolling rollup — per-day sketch partials merged
# across a trailing window (the hypertable-rollup pattern: store tiny
# partials, answer any window by merging, never rescan the corpus)
# ---------------------------------------------------------------------------

_KMV_ROLL_DAYS = 3  # trailing window width (d-2 .. d)


def _kmv_roll_oracle() -> str:
    from target_hdfs_spark.functions.hashing import md5_hash32_sql

    h = md5_hash32_sql("CAST(user_id AS VARCHAR)")
    return f"""
    WITH ue AS MATERIALIZED (
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id,
             {h} AS hv
      FROM events
    ),
    days AS (SELECT DISTINCT event_type, day FROM ue),
    win AS MATERIALIZED (
      SELECT d.event_type, d.day, u.user_id, u.hv
      FROM days d JOIN ue u
        ON u.event_type = d.event_type
       AND u.day BETWEEN d.day - {_KMV_ROLL_DAYS - 1} AND d.day
    ),
    dist AS (SELECT DISTINCT event_type, day, hv FROM win),
    ranked AS (
      SELECT event_type, day, hv,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY hv) AS rn
      FROM dist
    ),
    sk AS (
      SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n_in_sketch,
             MAX(CASE WHEN rn = {_KMV_K} THEN hv END) AS kth
      FROM ranked WHERE rn <= {_KMV_K} GROUP BY 1, 2
    ),
    ex AS (
      SELECT event_type, day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM win GROUP BY 1, 2
    )
    SELECT s.event_type, CAST(s.day AS VARCHAR) AS day,
           x.exact_distinct,
           CAST(COALESCE(s.kth, -1) AS BIGINT) AS kth_hash,
           CAST(CASE WHEN s.n_in_sketch = {_KMV_K}
                     THEN ({_KMV_K} - 1) * {_KMV_DOMAIN}
                          // greatest(s.kth, 1)
                     ELSE s.n_in_sketch END AS BIGINT) AS est_distinct
    FROM sk s JOIN ex x
      ON x.event_type = s.event_type AND x.day = s.day
    """


@query(
    "q252_kmv_rolling_rollup",
    oracle=_kmv_roll_oracle(),
    tags=("sketch", "rollup", "window", "calibration"),
)
def q252_kmv_rolling_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV ROLLING ROLLUP — the hypertable pattern: per-(type, day)
    KMV partials (k smallest hashes) merged across the trailing
    {_KMV_ROLL_DAYS}-day window per day, so any "distinct users last N
    days" readout is answered by merging |window| x k integers
    instead of rescanning the raw events — the materialized-rollup
    discipline a 100 TB time-series store lives by, applied to the
    engine's deterministic sketch. The Spark plan IS the two-level
    construction (per-day bottom-k first, then bottom-k of the pooled
    partials); the oracle rebuilds each window's sketch DIRECTLY from
    the events — their value-equality is q246's mergeability theorem
    applied per window, checked on every (type, day) row, alongside
    the exact rolling distinct for calibration.

    Exactness: hashes, ranks, and the estimator are deterministic
    integers (q239's estimator; kth_hash -1 while the window holds
    fewer than k hashes, where the estimate is exact by
    construction); the exact side counts DISTINCT user_id, not
    hashes, so a 32-bit collision cannot contaminate the truth
    column; day is emitted as its ISO string in both engines.

    Scale: one events pass to the distinct (type, day, hash) frame;
    per-day bottom-k via WindowGroupLimit (never sorts a day's users
    in one task); the trailing-window join fans each day's <= k
    partial rows to {_KMV_ROLL_DAYS} window anchors (a |days|-bounded
    range join over k-bounded rows — partials, never raw events);
    the second bottom-k runs on <= {_KMV_ROLL_DAYS}*k rows per group. The
    exact side exists as calibration and is the only corpus-heavy
    term; production keeps the partials and drops it.

    Cites reference behavior: none (beyond-reference operator).
    """
    from target_hdfs_spark.functions.hashing import md5_hash32

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.to_date("ts").alias("day")
    )
    ue = (
        ev.select(
            "event_type",
            "day",
            "user_id",
            md5_hash32(F.col("user_id").cast("string")).alias("hv"),
        )
        .distinct()
        .localCheckpoint()  # feeds partials AND the exact side
    )
    w_day = Window.partitionBy("event_type", "day").orderBy("hv")
    daily = (
        ue.select("event_type", "day", "hv")
        .distinct()
        .withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") <= _KMV_K)
        .select("event_type", "day", "hv")
    )
    days = ue.select("event_type", "day").distinct()
    anchors = days.select(
        F.col("event_type").alias("_et"), F.col("day").alias("_anchor")
    )
    pooled = (
        anchors.join(
            daily,
            (F.col("event_type") == F.col("_et"))
            & (F.col("day") >= F.date_sub(F.col("_anchor"), _KMV_ROLL_DAYS - 1))
            & (F.col("day") <= F.col("_anchor")),
        )
        .select(
            "_et",
            "_anchor",
            "hv",
        )
        .distinct()
    )
    w_roll = Window.partitionBy("_et", "_anchor").orderBy("hv")
    sk = (
        pooled.withColumn("rn", F.row_number().over(w_roll))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("_et", "_anchor")
        .agg(
            F.count(F.lit(1)).alias("n_in_sketch"),
            F.max(F.when(F.col("rn") == _KMV_K, F.col("hv"))).alias("kth"),
        )
    )
    exact = (
        anchors.join(
            ue,
            (F.col("event_type") == F.col("_et"))
            & (F.col("day") >= F.date_sub(F.col("_anchor"), _KMV_ROLL_DAYS - 1))
            & (F.col("day") <= F.col("_anchor")),
        )
        .groupBy("_et", "_anchor")
        .agg(F.count_distinct("user_id").cast("long").alias("exact_distinct"))
    )
    return (
        sk.join(exact, ["_et", "_anchor"])
        .select(
            F.col("_et").alias("event_type"),
            F.date_format("_anchor", "yyyy-MM-dd").alias("day"),
            "exact_distinct",
            F.coalesce(F.col("kth"), F.lit(-1)).cast("long").alias("kth_hash"),
            F.when(F.col("n_in_sketch") == _KMV_K,
                   F.expr(f"({_KMV_K} - 1) * {_KMV_DOMAIN}"
                          " div greatest(kth, 1)"))
            .otherwise(F.col("n_in_sketch"))
            .cast("long")
            .alias("est_distinct"),
        )
    )


# ---------------------------------------------------------------------------
# Sketch family: deterministic mergeable QUANTILE sketch (r8 verdict
# item 1 — the fourth and final sketch: KMV/theta answered distinct,
# CountMin frequency, Bloom membership; this answers quantiles, the
# sketch a corpus pipeline uses most, pricing length/score cutoffs
# from mergeable state instead of exact per-group sorts)
# ---------------------------------------------------------------------------

# Fixed-boundary integer histogram: values are floored to integer
# units, clamped to [0, _QSK_W * _QSK_NBKT), and counted into
# fixed-width buckets. Bucket boundaries are CONSTANTS (never
# data-dependent like KLL/t-digest centroids), so two engines — or
# two executors — always build bit-identical cells, and merging is
# CELL ADDITION (the CountMin monoid). Rank queries walk the
# cumulative histogram; value error is bounded by the bucket width.
_QSK_W = 32  # bucket width, integer price units
_QSK_NBKT = 4096  # bucket-count cap -> domain [0, 131072)
_QSK_PCTS = (25, 50, 75)  # readout percentiles (q99's surface)


def _qsk_bucket_sql(expr: str, w: int, nbkt: int) -> str:
    """DuckDB-side bucket: clamp floor(expr) into the fixed domain,
    integer-divide by the width."""
    return (
        f"least(greatest(CAST(floor({expr}) AS BIGINT), 0),"
        f" {w * nbkt - 1}) // {w}"
    )


def _qsk_bucket_expr(expr: str, w: int, nbkt: int):
    """Spark-side bucket — the same clamp + integer division (`div`
    is Spark SQL's integer division, `//` DuckDB's; both truncate)."""
    return F.expr(
        f"least(greatest(CAST(floor({expr}) AS BIGINT), 0),"
        f" {w * nbkt - 1}) div {w}"
    )


def _qsk_rank_sql(p: int) -> str:
    """ceil(n * p / 100) in pure integers — the rank both engines
    walk to; n is the column holding the group row count."""
    return f"(n * {p} + 99) // 100"


def _qsk_estimates(
    hist: DataFrame,
    keys: list[str],
    w: int,
    pcts: tuple[int, ...],
    with_counts: bool = False,
) -> DataFrame:
    """THE quantile readout (Spark side), shared by every quantile-
    sketch query so the estimator can never fork: cumulative walk
    over a (keys..., bkt, c) histogram frame, then per percentile the
    midpoint of the first bucket covering rank ceil(n*p/100). Runs on
    the histogram frame — sketch-sized, never row-sized."""
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*keys)
    cum = hist.select(
        *keys,
        "bkt",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    aggs = []
    if with_counts:
        aggs += [
            F.max("n").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
        ]
    for p in pcts:
        aggs.append(
            (
                F.min(
                    F.when(
                        F.col("cum") >= F.expr(f"(n * {p} + 99) div 100"),
                        F.col("bkt"),
                    )
                )
                * w
                + w // 2
            )
            .cast("long")
            .alias(f"est_p{p}")
        )
    return cum.groupBy(*keys).agg(*aggs)


def _qsk_est_sql(
    src: str,
    keys: str,
    w: int,
    pcts: tuple[int, ...],
    with_counts: bool = False,
) -> str:
    """The same readout for the DuckDB oracle, generated from the
    same constants (`keys` is the comma-joined group columns)."""
    count_cols = (
        "CAST(MAX(n) AS BIGINT) AS n_rows,\n"
        "         CAST(COUNT(*) AS BIGINT) AS n_buckets,\n         "
        if with_counts
        else ""
    )
    est_lines = ",\n         ".join(
        f"CAST(MIN(CASE WHEN cum >= {_qsk_rank_sql(p)} THEN bkt END)"
        f" * {w} + {w // 2} AS BIGINT) AS est_p{p}"
        for p in pcts
    )
    return f"""
      SELECT {keys},
         {count_cols}{est_lines}
      FROM (
        SELECT {keys}, bkt,
               CAST(SUM(c) OVER (PARTITION BY {keys}
                                 ORDER BY bkt) AS BIGINT) AS cum,
               CAST(SUM(c) OVER (PARTITION BY {keys}) AS BIGINT) AS n
        FROM {src}
      ) GROUP BY {keys}"""


def _qsk_calibration_oracle() -> str:
    bkt = _qsk_bucket_sql("l_extendedprice", _QSK_W, _QSK_NBKT)
    ex_lines = ",\n         ".join(
        f"quantile_cont(l_extendedprice, {p / 100}) AS exact_p{p}"
        for p in _QSK_PCTS
    )
    err_lines = ",\n       ".join(
        f"CAST(floor(abs(CAST(e.est_p{p} AS DOUBLE) - x.exact_p{p})"
        f" * 1000000 / x.exact_p{p}) AS BIGINT) AS err{p}_ppm"
        for p in _QSK_PCTS
    )
    est_cols = ", ".join(f"e.est_p{p}" for p in _QSK_PCTS)
    ex_cols = ", ".join(f"x.exact_p{p}" for p in _QSK_PCTS)
    return f"""
    WITH v AS (
      SELECT l_returnflag, {bkt} AS bkt FROM lineitem
    ),
    hist AS (
      SELECT l_returnflag, bkt, CAST(COUNT(*) AS BIGINT) AS c
      FROM v GROUP BY 1, 2
    ),
    est AS (
      {_qsk_est_sql("hist", "l_returnflag", _QSK_W, _QSK_PCTS, True)}
    ),
    ex AS (
      SELECT l_returnflag,
         {ex_lines}
      FROM lineitem GROUP BY 1
    )
    SELECT e.l_returnflag, e.n_rows, e.n_buckets,
       {est_cols},
       {ex_cols},
       {err_lines}
    FROM est e JOIN ex x ON x.l_returnflag = e.l_returnflag
    """


@query(
    "q253_quantile_sketch",
    oracle=_qsk_calibration_oracle(),
    tags=("sketch", "percentile", "calibration", "observability"),
)
def q253_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic FIXED-BOUNDARY QUANTILE sketch per group, with
    its estimates judged against the exact interpolated percentiles —
    the quantile member of the engine's sketch program (KMV/theta =
    distinct, CountMin = frequency, Bloom = membership, this =
    quantiles), retiring the family's last rows-only trade-off
    (q20's percentile_approx KLL sketch has engine-specific
    internals; this sketch's state is portable integer cells, so the
    oracle rebuilds it bit-identically). Values are floored to
    integer units, clamped into [0, {_QSK_W}*{_QSK_NBKT}), and
    counted into width-{_QSK_W} buckets whose boundaries are
    CONSTANTS — never data-dependent like KLL compactors or t-digest
    centroids, which is what makes two executors' (or two engines')
    partials bit-identical and merging plain cell addition. A rank
    readout walks the cumulative histogram to the first bucket
    covering ceil(n*p/100) and reports the bucket midpoint; value
    error is bounded by the bucket width (err*_ppm pins the
    calibration against q99's exact surface end-to-end).

    Exactness: bucket assignment, counts, cumulative ranks, and
    midpoints are deterministic integers in both engines; the exact
    side is q99's pinned interpolated percentile; the ppm division is
    the same IEEE double expression on both sides.

    Scale: one pass to per-(group, bucket) counts with map-side
    combine; the cumulative walk runs on the histogram frame (<=
    {_QSK_NBKT} rows per group — sketch-sized, never row-sized), so
    a 100 TB column costs one scan while the exact side's per-group
    value materialization (the q99 trade) is the term this sketch
    lets a production pipeline drop. At any scale the sketch is <=
    {_QSK_NBKT} int64 cells per group.

    Cites reference behavior: none (beyond-reference operator).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    hist = li.groupBy(
        "l_returnflag",
        _qsk_bucket_expr("l_extendedprice", _QSK_W, _QSK_NBKT).alias("bkt"),
    ).agg(F.count(F.lit(1)).alias("c"))
    est = _qsk_estimates(
        hist, ["l_returnflag"], _QSK_W, _QSK_PCTS, with_counts=True
    )
    ex = li.groupBy("l_returnflag").agg(
        *[
            F.percentile("l_extendedprice", F.lit(p / 100)).alias(
                f"exact_p{p}"
            )
            for p in _QSK_PCTS
        ]
    )
    return est.join(ex, "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        "n_buckets",
        *[f"est_p{p}" for p in _QSK_PCTS],
        *[f"exact_p{p}" for p in _QSK_PCTS],
        *[
            F.expr(
                f"cast(floor(abs(cast(est_p{p} as double) - exact_p{p})"
                f" * 1000000 / exact_p{p}) as bigint)"
            ).alias(f"err{p}_ppm")
            for p in _QSK_PCTS
        ],
    )


def _qsk_merge_law_oracle() -> str:
    bkt = _qsk_bucket_sql("l_extendedprice", _QSK_W, _QSK_NBKT)
    return f"""
    WITH v AS MATERIALIZED (
      SELECT l_returnflag, l_linestatus, {bkt} AS bkt FROM lineitem
    ),
    partials AS MATERIALIZED (
      SELECT l_returnflag, l_linestatus, bkt,
             CAST(COUNT(*) AS BIGINT) AS cell
      FROM v GROUP BY 1, 2, 3
    ),
    merged AS MATERIALIZED (
      SELECT l_returnflag, bkt, CAST(SUM(cell) AS BIGINT) AS c
      FROM partials GROUP BY 1, 2
    ),
    direct AS MATERIALIZED (
      SELECT l_returnflag, bkt, CAST(COUNT(*) AS BIGINT) AS c
      FROM v GROUP BY 1, 2
    ),
    hdiff AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_diff FROM (
        SELECT * FROM merged EXCEPT SELECT * FROM direct
        UNION ALL
        (SELECT * FROM direct EXCEPT SELECT * FROM merged)
      )
    ),
    est_m AS ({_qsk_est_sql("merged", "l_returnflag", _QSK_W, (50,))}),
    est_d AS ({_qsk_est_sql("direct", "l_returnflag", _QSK_W, (50,))}),
    rdiff AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_diff
      FROM est_m m JOIN est_d d
        ON d.l_returnflag = m.l_returnflag
       AND d.est_p50 <> m.est_p50
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_partials,
             CAST(SUM(cell) AS BIGINT) AS total_mass
      FROM partials
    )
    SELECT s.n_partials, s.total_mass,
           (h.n_diff = 0) AS hist_merge_matches,
           (r.n_diff = 0) AS readout_matches
    FROM stats s CROSS JOIN hdiff h CROSS JOIN rdiff r
    """


@query(
    "q254_quantile_merge_law",
    oracle=_qsk_merge_law_oracle(),
    tags=("sketch", "percentile", "calibration", "observability"),
)
def q254_quantile_merge_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE LAW for the quantile sketch, value-checked as a theorem
    (the q251 pattern, completing the program: every sketch in the
    engine ships its mergeability proof): per-(group, sub-partition)
    histogram partials merged by CELL ADDITION must equal the
    histogram built directly over the group — fixed boundaries make
    the cells a commutative monoid under +, exactly CountMin's
    algebra — AND the median readout from the merged sketch must
    equal the readout from the direct build. This is the property
    that lets 1000 executors (or 1000 days of stored partials) each
    histogram their slice and a coordinator answer any quantile from
    summed cells, never rescanning the corpus; it is also the algebra
    the quantile_stream twin's unconditional batch parity rests on.

    Exactness: every cell, symmetric-difference count, and midpoint
    readout is a deterministic integer; the booleans ride the checked
    row alongside partial-count and mass stats.

    Scale: one pass to the per-(group, sub-partition, bucket) partial
    frame (map-side combine); merged/direct/diff/readout all run on
    histogram frames (<= groups x {_QSK_NBKT} cells — sketch-sized).
    The direct side exists only as the theorem's independent
    construction; production keeps the partials.

    Cites reference behavior: none (beyond-reference operator).
    """
    v = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        _qsk_bucket_expr("l_extendedprice", _QSK_W, _QSK_NBKT).alias("bkt"),
    )
    partials = (
        v.groupBy("l_returnflag", "l_linestatus", "bkt")
        .agg(F.count(F.lit(1)).alias("cell"))
        .localCheckpoint()  # feeds merged, stats
    )
    merged = partials.groupBy("l_returnflag", "bkt").agg(
        F.sum("cell").alias("c")
    )
    direct = v.groupBy("l_returnflag", "bkt").agg(
        F.count(F.lit(1)).alias("c")
    )
    hdiff = (
        merged.exceptAll(direct)
        .unionByName(direct.exceptAll(merged))
        .agg(F.count(F.lit(1)).alias("n_diff"))
    )
    est_m = _qsk_estimates(merged, ["l_returnflag"], _QSK_W, (50,))
    est_d = _qsk_estimates(direct, ["l_returnflag"], _QSK_W, (50,)).select(
        "l_returnflag", F.col("est_p50").alias("_d50")
    )
    rdiff = (
        est_m.join(est_d, "l_returnflag")
        .filter(F.col("est_p50") != F.col("_d50"))
        .agg(F.count(F.lit(1)).alias("_rd"))
    )
    stats = partials.agg(
        F.count(F.lit(1)).cast("long").alias("n_partials"),
        F.sum("cell").cast("long").alias("total_mass"),
    )
    return (
        stats.crossJoin(F.broadcast(hdiff))
        .crossJoin(F.broadcast(rdiff))
        .select(
            "n_partials",
            "total_mass",
            (F.col("n_diff") == 0).alias("hist_merge_matches"),
            (F.col("_rd") == 0).alias("readout_matches"),
        )
    )


# Events-domain instance of the quantile sketch: event values in
# integer CENTS (floor(value*100)), width-64 buckets over [0, 65536).
_QSK_EV_W = 64
_QSK_EV_NBKT = 1024
_QSK_ROLL_DAYS = 3  # trailing window width (d-2 .. d)


def _qsk_roll_oracle() -> str:
    bkt = _qsk_bucket_sql("value * 100", _QSK_EV_W, _QSK_EV_NBKT)
    return f"""
    WITH e AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day, {bkt} AS bkt,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    daily AS MATERIALIZED (
      SELECT event_type, day, bkt, CAST(COUNT(*) AS BIGINT) AS cell
      FROM e GROUP BY 1, 2, 3
    ),
    days AS (SELECT DISTINCT event_type, day FROM e),
    pooled AS MATERIALIZED (
      SELECT d.event_type, d.day, x.bkt, CAST(SUM(x.cell) AS BIGINT) AS c
      FROM days d JOIN daily x
        ON x.event_type = d.event_type
       AND x.day BETWEEN d.day - {_QSK_ROLL_DAYS - 1} AND d.day
      GROUP BY 1, 2, 3
    ),
    est AS (
      {_qsk_est_sql("pooled", "event_type, day", _QSK_EV_W, (50, 90), True)}
    ),
    ex AS (
      SELECT d.event_type, d.day,
             quantile_cont(e.cents, 0.5) AS exact_p50
      FROM days d JOIN e
        ON e.event_type = d.event_type
       AND e.day BETWEEN d.day - {_QSK_ROLL_DAYS - 1} AND d.day
      GROUP BY 1, 2
    )
    SELECT s.event_type, CAST(s.day AS VARCHAR) AS day,
           s.n_rows, s.n_buckets, s.est_p50, s.est_p90, x.exact_p50,
           CAST(floor(abs(CAST(s.est_p50 AS DOUBLE) - x.exact_p50)
                * 1000000 / x.exact_p50) AS BIGINT) AS err50_ppm
    FROM est s JOIN ex x
      ON x.event_type = s.event_type AND x.day = s.day
    """


@query(
    "q255_quantile_rolling_rollup",
    oracle=_qsk_roll_oracle(),
    tags=("sketch", "percentile", "rollup", "window", "calibration"),
)
def q255_quantile_rolling_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE sketch ROLLING ROLLUP — q252's hypertable pattern on
    the fourth sketch: per-(type, day) histogram partials (fixed
    width-{_QSK_EV_W} buckets over integer cents) merged by cell
    addition across the trailing {_QSK_ROLL_DAYS}-day window per day,
    so any "p50/p90 value last N days" readout is answered from
    |window| x <= {_QSK_EV_NBKT} stored integers instead of
    re-sorting the raw events — the materialized-rollup discipline
    applied to quantiles, which is exactly how a 100 TB corpus store
    prices rolling length/score cutoffs. The Spark plan IS the
    two-level construction (per-day partials, then window sums); the
    oracle rebuilds each window's histogram DIRECTLY from the events,
    so their value-equality is q254's merge law applied per window,
    checked on every (type, day) row, with the exact interpolated
    median alongside for calibration (err50_ppm).

    Exactness: bucket assignment (same IEEE floor(value*100) in both
    engines), cells, window sums, and midpoint readouts are
    deterministic integers; the exact side rides q99's pinned
    interpolation over identical cents; day is emitted as its ISO
    string in both engines. The domain clamp saturates values beyond
    {_QSK_EV_W * _QSK_EV_NBKT} cents into the top bucket (none at
    these SFs; a production instance sizes the domain to the column).

    Scale: one events pass to the per-(type, day, bucket) partials;
    the trailing-window join fans each day's <= {_QSK_EV_NBKT}
    partial rows to {_QSK_ROLL_DAYS} anchors (histogram rows, never
    raw events); readouts run on window-summed histogram frames. The
    exact side is the only corpus-heavy term and exists as
    calibration; production keeps the partials and drops it.

    Cites reference behavior: none (beyond-reference operator).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        _qsk_bucket_expr("value * 100", _QSK_EV_W, _QSK_EV_NBKT).alias("bkt"),
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
    )
    daily = (
        ev.groupBy("event_type", "day", "bkt")
        .agg(F.count(F.lit(1)).alias("cell"))
        .localCheckpoint()  # the stored partials; feed pooled AND days
    )
    anchors = (
        daily.select("event_type", "day")
        .distinct()
        .select(
            F.col("event_type").alias("_et"), F.col("day").alias("_anchor")
        )
    )
    pooled = (
        anchors.join(
            daily,
            (F.col("event_type") == F.col("_et"))
            & (
                F.col("day")
                >= F.date_sub(F.col("_anchor"), _QSK_ROLL_DAYS - 1)
            )
            & (F.col("day") <= F.col("_anchor")),
        )
        .groupBy("_et", "_anchor", "bkt")
        .agg(F.sum("cell").alias("c"))
        .select(
            F.col("_et").alias("event_type"),
            F.col("_anchor").alias("day"),
            "bkt",
            "c",
        )
    )
    est = _qsk_estimates(
        pooled, ["event_type", "day"], _QSK_EV_W, (50, 90), with_counts=True
    )
    exact = (
        anchors.join(
            ev,
            (F.col("event_type") == F.col("_et"))
            & (
                F.col("day")
                >= F.date_sub(F.col("_anchor"), _QSK_ROLL_DAYS - 1)
            )
            & (F.col("day") <= F.col("_anchor")),
        )
        .groupBy("_et", "_anchor")
        .agg(F.percentile("cents", F.lit(0.5)).alias("exact_p50"))
        .select(
            F.col("_et").alias("event_type"),
            F.col("_anchor").alias("day"),
            "exact_p50",
        )
    )
    return est.join(exact, ["event_type", "day"]).select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_rows",
        "n_buckets",
        "est_p50",
        "est_p90",
        "exact_p50",
        F.expr(
            "cast(floor(abs(cast(est_p50 as double) - exact_p50)"
            " * 1000000 / exact_p50) as bigint)"
        ).alias("err50_ppm"),
    )


# ---------------------------------------------------------------------------
# Quantile sketch, applied: corpus length-cutoff pricing (the use case
# the sketch exists for — choose the cutoff from mergeable state,
# price its impact exactly)
# ---------------------------------------------------------------------------

# Documents-domain instance: n_chars in width-16 buckets over
# [0, 65536) characters.
_QSK_DOC_W = 16
_QSK_DOC_NBKT = 4096
_QSK_DOC_PCTS = (10, 50, 95)


def _length_cutoff_oracle() -> str:
    bkt = _qsk_bucket_sql("n_chars", _QSK_DOC_W, _QSK_DOC_NBKT)
    return f"""
    WITH hist AS (
      SELECT lang, {bkt} AS bkt, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    est AS (
      {_qsk_est_sql("hist", "lang", _QSK_DOC_W, _QSK_DOC_PCTS, True)}
    ),
    dropped AS (
      SELECT d.lang,
             CAST(COUNT(*) AS BIGINT) AS docs_dropped,
             CAST(SUM(d.n_chars) AS BIGINT) AS chars_dropped
      FROM documents d JOIN est e ON e.lang = d.lang
      WHERE d.n_chars > e.est_p95
      GROUP BY d.lang
    )
    SELECT e.lang, e.n_rows AS n_docs,
           e.est_p10, e.est_p50, e.est_p95,
           CAST(COALESCE(x.docs_dropped, 0) AS BIGINT) AS docs_dropped,
           CAST(COALESCE(x.chars_dropped, 0) AS BIGINT) AS chars_dropped,
           CAST(COALESCE(x.docs_dropped, 0) * 1000000 // e.n_rows
                AS BIGINT) AS drop_ppm
    FROM est e LEFT JOIN dropped x ON x.lang = e.lang
    """


@query(
    "q258_length_cutoff_pricing",
    oracle=_length_cutoff_oracle(),
    tags=("sketch", "percentile", "curation", "observability"),
)
def q258_length_cutoff_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH-CUTOFF PRICING from the quantile sketch — the operation
    the sketch program exists for: per-language document-length
    histograms (q253's fixed-boundary cells over n_chars) yield
    p10/p50/p95 cutoff candidates WITHOUT sorting any documents, and
    the chosen cutoff (p95 here) is then priced exactly — how many
    documents and characters a "drop everything longer than p95"
    curation rule would remove per language, in counts and ppm. At
    100 TB this is the two-phase shape a corpus curator actually
    runs: phase 1 merges stored histogram partials into cutoffs
    (sketch-sized work), phase 2 is one map-side filter pass with the
    |languages|-row cutoff table broadcast — this query is both
    phases composed, value-checked end-to-end.

    Exactness: cells, ranks, and midpoints are the shared
    `_qsk_estimates` readout (deterministic integers); the pricing
    side counts and sums integers over an identical surviving set in
    both engines; one truncated ppm division.

    Scale: one documents pass to the per-(lang, bucket) histogram
    (map-side combine), readouts on <= {_QSK_DOC_NBKT} cells per
    language, then one filter pass with the broadcast cutoffs. No
    per-group value materialization anywhere — the term q99-style
    exact percentiles would pay.

    Cites reference behavior: none (beyond-reference operator).
    """
    docs = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    hist = docs.groupBy(
        "lang",
        _qsk_bucket_expr("n_chars", _QSK_DOC_W, _QSK_DOC_NBKT).alias("bkt"),
    ).agg(F.count(F.lit(1)).alias("c"))
    est = _qsk_estimates(
        hist, ["lang"], _QSK_DOC_W, _QSK_DOC_PCTS, with_counts=True
    ).drop("n_buckets")
    dropped = (
        docs.join(F.broadcast(est.select("lang", "est_p95")), "lang")
        .filter(F.col("n_chars") > F.col("est_p95"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_dropped"),
            F.sum("n_chars").cast("long").alias("chars_dropped"),
        )
    )
    return est.join(dropped, "lang", "left").select(
        "lang",
        F.col("n_rows").alias("n_docs"),
        "est_p10",
        "est_p50",
        "est_p95",
        F.coalesce("docs_dropped", F.lit(0)).cast("long").alias("docs_dropped"),
        F.coalesce("chars_dropped", F.lit(0))
        .cast("long")
        .alias("chars_dropped"),
        F.expr("coalesce(docs_dropped, 0) * 1000000 div n_rows")
        .cast("long")
        .alias("drop_ppm"),
    )


# ---------------------------------------------------------------------------
# Sketch family: range-partition planner — the quantile histogram
# drives the physical plan (balanced range boundaries for a
# distributed sort / range-partitioned write, computed from mergeable
# sketch state instead of Spark's private sampling pass)
# ---------------------------------------------------------------------------

_RPP_PARTS = 8  # target partition count for the planned range shuffle


def _rpp_oracle() -> str:
    bkt = _qsk_bucket_sql("l_extendedprice", _QSK_W, _QSK_NBKT)
    return f"""
    WITH v AS (SELECT {bkt} AS bkt FROM lineitem),
    hist AS (
      SELECT bkt, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1
    ),
    walk AS (
      SELECT bkt, c,
             CAST(SUM(c) OVER (ORDER BY bkt) - c AS BIGINT) AS cum_before,
             CAST(SUM(c) OVER () AS BIGINT) AS n
      FROM hist
    ),
    assigned AS (
      SELECT bkt, c, n,
             least({_RPP_PARTS - 1}, cum_before * {_RPP_PARTS} // n)
               AS partition_id
      FROM walk
    )
    SELECT partition_id,
           CAST(MIN(bkt) AS BIGINT) AS lo_bkt,
           CAST(MAX(bkt) AS BIGINT) AS hi_bkt,
           CAST(MIN(bkt) * {_QSK_W} AS BIGINT) AS lo_value,
           CAST(SUM(c) AS BIGINT) AS part_rows,
           CAST(MAX(n) // {_RPP_PARTS} AS BIGINT) AS ideal_rows,
           CAST((SUM(c) - MAX(n) // {_RPP_PARTS}) * 1000000
                // (MAX(n) // {_RPP_PARTS}) AS BIGINT) AS skew_ppm,
           CAST(COUNT(*) AS BIGINT) AS n_buckets
    FROM assigned GROUP BY 1
    """


@query(
    "q266_range_partition_planner",
    oracle=_rpp_oracle(),
    tags=("sketch", "planner", "percentile", "observability"),
)
def q266_range_partition_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-PARTITION PLANNER — the quantile sketch driving a
    physical-plan decision: {_RPP_PARTS} balanced range boundaries
    for a range shuffle (global sort, range-partitioned write,
    z-order bin) computed from the q253 fixed-boundary histogram.
    Each histogram bucket lands in partition
    least(P-1, cum_before * P / n) — the equi-depth cut — and the
    output prices the plan: realized rows per partition vs the ideal
    n/P, skew in ppm, bucket span per partition. This is what Spark's
    RangePartitioner does with a private per-run sample, done instead
    from DETERMINISTIC, MERGEABLE sketch state: 1000 executors
    histogram their slices (cell addition, q254's law), the planner
    walks <= {_QSK_NBKT} integers, and the boundaries are
    bit-reproducible across runs — so a nightly re-sort reuses
    yesterday's boundaries and bucketed outputs stay stable.

    Exactness: bucket function and walk are pure integer arithmetic
    (q253's convention); realized per-partition counts are exact
    because assignment is bucket-granular by construction.

    Scale: one corpus pass builds the histogram (map-side combine to
    <= {_QSK_NBKT} cells); everything after — walk, assignment,
    pricing — runs on the sketch frame. The planned boundaries then
    feed repartitionByRange, NOT a second sampling scan. The
    single-partition window here orders the histogram frame
    (<= {_QSK_NBKT} rows), never the corpus.

    Cites reference behavior: none (beyond-reference operator).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        _qsk_bucket_expr("l_extendedprice", _QSK_W, _QSK_NBKT).alias("bkt")
    )
    hist = li.groupBy("bkt").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w_cum = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    walk = hist.select(
        "bkt",
        "c",
        (F.sum("c").over(w_cum) - F.col("c")).alias("cum_before"),
        F.sum("c").over(w_all).alias("n"),
    )
    assigned = walk.select(
        "bkt",
        "c",
        "n",
        F.least(
            F.lit(_RPP_PARTS - 1),
            F.expr(f"cum_before * {_RPP_PARTS} div n"),
        ).alias("partition_id"),
    )
    ideal = F.expr(f"max(n) div {_RPP_PARTS}")
    return assigned.groupBy("partition_id").agg(
        F.min("bkt").cast("long").alias("lo_bkt"),
        F.max("bkt").cast("long").alias("hi_bkt"),
        (F.min("bkt") * _QSK_W).cast("long").alias("lo_value"),
        F.sum("c").cast("long").alias("part_rows"),
        ideal.cast("long").alias("ideal_rows"),
        F.expr(
            f"(sum(c) - max(n) div {_RPP_PARTS}) * 1000000"
            f" div (max(n) div {_RPP_PARTS})"
        )
        .cast("long")
        .alias("skew_ppm"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    )


# ---------------------------------------------------------------------------
# Sketch family: salt-factor planner — CountMin frequency estimates
# drive the skew-join salting decision (q34 executes salted plans;
# this PRICES them from sketch state, with the never-under-salted
# guarantee inherited from CountMin's one-sided error)
# ---------------------------------------------------------------------------

_SSP_CAP = 16  # target rows per salted task-key unit
_SSP_MAXSALT = 32  # clamp: a key never fans wider than this
_SSP_TOPN = 20  # report the N heaviest keys


def _ssp_oracle() -> str:
    from target_hdfs_spark.functions.hashing import md5_hash32_sql

    h = md5_hash32_sql("CAST(user_id AS VARCHAR)")
    cell_parts = " UNION ALL ".join(
        f"SELECT {i} AS r, {_cmj_bucket_sql(i)} AS bkt, c FROM uc"
        for i in range(_CMJ_ROWS)
    )
    probe_parts = " UNION ALL ".join(
        f"SELECT user_id, c, {i} AS r, {_cmj_bucket_sql(i)} AS bkt FROM uc"
        for i in range(_CMJ_ROWS)
    )
    return f"""
    WITH uc AS MATERIALIZED (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c, {h} AS h
      FROM events GROUP BY 1
    ),
    cells AS MATERIALIZED (
      SELECT r, bkt, CAST(SUM(c) AS BIGINT) AS cell
      FROM ({cell_parts}) GROUP BY 1, 2
    ),
    est AS (
      SELECT p.user_id, CAST(MAX(p.c) AS BIGINT) AS exact_rows,
             CAST(MIN(ce.cell) AS BIGINT) AS est_rows
      FROM ({probe_parts}) p
      JOIN cells ce ON ce.r = p.r AND ce.bkt = p.bkt
      GROUP BY 1
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY exact_rows DESC, user_id)
               AS heavy_rank
      FROM est
    )
    SELECT user_id, CAST(heavy_rank AS BIGINT) AS heavy_rank,
           exact_rows, est_rows,
           CAST(least({_SSP_MAXSALT},
                (exact_rows + {_SSP_CAP - 1}) // {_SSP_CAP}) AS BIGINT)
             AS salt_exact,
           CAST(least({_SSP_MAXSALT},
                (est_rows + {_SSP_CAP - 1}) // {_SSP_CAP}) AS BIGINT)
             AS salt_est,
           (est_rows >= exact_rows) AS never_under,
           CAST((est_rows - exact_rows) * 1000000 // exact_rows AS BIGINT)
             AS over_ppm
    FROM ranked WHERE heavy_rank <= {_SSP_TOPN}
    """


@query(
    "q267_salt_factor_planner",
    oracle=_ssp_oracle(),
    tags=("sketch", "planner", "skew", "observability"),
)
def q267_salt_factor_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALT-FACTOR PLANNER — CountMin driving the skew-join decision:
    for the {_SSP_TOPN} heaviest join keys (users), the per-key row
    count is estimated from the {_CMJ_ROWS}x{_CMJ_WIDTH} production
    sketch (q240/q249's build — the matrix countmin_stream maintains)
    and turned into the salt factor a skewed equi-join would fan that
    key across: ceil(est / {_SSP_CAP}) clamped to {_SSP_MAXSALT}.
    q34 EXECUTES salted plans with factors from exact counts; at
    100 TB the planner cannot afford the exact pass, so it prices
    salting from sketch state — and CountMin's one-sided error means
    the plan NEVER UNDER-SALTS (est >= exact, so salt_est >=
    salt_exact: over-estimation wastes a little fan-out; under-
    estimation would leave a straggler task). Both the guarantee and
    the realized over-estimate (ppm) ride the row, value-checked
    next to the exact-count salt the planner would have picked with
    perfect information.

    Exactness: cells, probes, mins, ceilings, clamps, ranks — all
    deterministic integers on both engines (portable md5-32 base
    hash, shared coefficient family).

    Scale: one events pass collapses to the |users| count frame
    (map-side combined); the sketch build and the probe are each one
    posexplode pass over that frame onto {_CMJ_ROWS}x{_CMJ_WIDTH}
    cells; the heavy-rank window prunes to top-{_SSP_TOPN} per task
    before the single-partition sort sees anything (WindowGroupLimit
    on a |users|-sized frame). The exact side exists only as
    calibration — production keeps the sketch and drops it.

    Cites reference behavior: none (beyond-reference operator).
    """
    from target_hdfs_spark.functions.hashing import MERSENNE_P, md5_hash32

    ev = load_table(spark, sf_dir, "events").select("user_id")
    uc = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(
            "user_id",
            "c",
            md5_hash32(F.col("user_id").cast("string")).alias("h"),
        )
        .localCheckpoint()  # feeds the sketch build AND the probe side
    )
    bkts = F.array(
        *[
            (F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE_P % _CMJ_WIDTH
            for a, b in _cmj_coeffs()
        ]
    )
    cells = (
        uc.select("c", F.posexplode(bkts).alias("r", "bkt"))
        .groupBy("r", "bkt")
        .agg(F.sum("c").alias("cell"))
    )
    probes = uc.select("user_id", "c", F.posexplode(bkts).alias("r", "bkt"))
    est = (
        probes.join(F.broadcast(cells), ["r", "bkt"])
        .groupBy("user_id")
        .agg(
            F.max("c").cast("long").alias("exact_rows"),
            F.min("cell").cast("long").alias("est_rows"),
        )
    )
    w = Window.orderBy(F.col("exact_rows").desc(), "user_id")
    ranked = est.withColumn(
        "heavy_rank", F.row_number().over(w).cast("long")
    ).filter(F.col("heavy_rank") <= _SSP_TOPN)
    salt = (
        lambda col: F.least(
            F.lit(_SSP_MAXSALT),
            F.expr(f"({col} + {_SSP_CAP - 1}) div {_SSP_CAP}"),
        )
        .cast("long")
    )
    return ranked.select(
        "user_id",
        "heavy_rank",
        "exact_rows",
        "est_rows",
        salt("exact_rows").alias("salt_exact"),
        salt("est_rows").alias("salt_est"),
        (F.col("est_rows") >= F.col("exact_rows")).alias("never_under"),
        F.expr("(est_rows - exact_rows) * 1000000 div exact_rows")
        .cast("long")
        .alias("over_ppm"),
    )


# ---------------------------------------------------------------------------
# Sketch family: layout drift audit — the range-layout lifecycle
# monitor (plan q266 -> write plans/range_layout.py -> prune -> WATCH:
# when has the corpus drifted enough that yesterday's cuts skew
# today's layout and a re-cut pays?)
# ---------------------------------------------------------------------------

_LDA_CUTOFF = "1996-01-01"  # "yesterday's plan" = cuts from this slice
_LDA_RECUT_PPM = 200_000  # re-cut a range when |skew| exceeds 20%


def _layout_drift_oracle() -> str:
    bkt = _qsk_bucket_sql("l_extendedprice", _QSK_W, _QSK_NBKT)
    p = _RPP_PARTS
    return f"""
    WITH v AS MATERIALIZED (
      SELECT {bkt} AS bkt, l_shipdate FROM lineitem
    ),
    old_hist AS (
      SELECT bkt, CAST(COUNT(*) AS BIGINT) AS c FROM v
      WHERE l_shipdate < TIMESTAMP '{_LDA_CUTOFF}' GROUP BY 1
    ),
    old_walk AS (
      SELECT bkt,
             least({p - 1},
                   (SUM(c) OVER (ORDER BY bkt) - c) * {p}
                   // SUM(c) OVER ()) AS pid
      FROM old_hist
    ),
    cuts AS (
      SELECT bkt AS cut_bkt FROM (
        SELECT bkt, pid, lag(pid) OVER (ORDER BY bkt) AS prev_pid
        FROM old_walk
      ) WHERE prev_pid IS NOT NULL AND pid <> prev_pid
    ),
    full_hist AS (
      SELECT bkt, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1
    ),
    assigned AS (
      SELECT h.bkt, h.c, CAST(COUNT(cut_bkt) AS BIGINT) AS range_id
      FROM full_hist h LEFT JOIN cuts ON cuts.cut_bkt <= h.bkt
      GROUP BY h.bkt, h.c
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_full FROM full_hist)
    SELECT a.range_id,
           CAST(SUM(a.c) AS BIGINT) AS part_rows,
           CAST(MAX(t.n_full) // {p} AS BIGINT) AS ideal_rows,
           CAST((SUM(a.c) - MAX(t.n_full) // {p}) * 1000000
                // (MAX(t.n_full) // {p}) AS BIGINT) AS skew_ppm,
           (abs((SUM(a.c) - MAX(t.n_full) // {p}) * 1000000
                // (MAX(t.n_full) // {p})) > {_LDA_RECUT_PPM})
             AS recut_needed
    FROM assigned a CROSS JOIN tot t
    GROUP BY a.range_id
    """


@query(
    "q275_layout_drift_audit",
    oracle=_layout_drift_oracle(),
    tags=("sketch", "planner", "percentile", "observability", "drift"),
)
def q275_layout_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAYOUT DRIFT AUDIT — the range-layout lifecycle's monitor:
    yesterday's equi-depth cuts (planned from the pre-{_LDA_CUTOFF}
    slice via q266's walk) applied to TODAY's full corpus, with each
    range's realized rows vs the ideal n/{_RPP_PARTS}, skew in ppm,
    and a re-cut alert when a range is more than
    {_LDA_RECUT_PPM // 10_000}% off — the dashboard that tells the
    pipeline when the stable layout (plans/range_layout.py keeps
    boundaries fixed precisely so re-runs don't reshuffle) has
    drifted enough that the stability is costing more than a re-cut
    would. Closing the loop: q266 plans, range_layout writes and
    prunes, THIS watches.

    Exactness: both walks, the cut extraction (pid change points),
    the LEFT-JOIN-count assignment, and the skew arithmetic are pure
    integers in both engines.

    Scale: ONE corpus pass builds the bucket/date frame; both
    histograms, the walk, the cut frame, and the assignment run on
    <= {_QSK_NBKT} cells (the cuts frame is <= {_RPP_PARTS - 1} rows
    and broadcast); nothing after the scan is corpus-sized. In
    production the two histograms come from stored daily partials
    (q254's merge law) — no scan at all.

    Cites reference behavior: none (beyond-reference operator).
    """
    v = load_table(spark, sf_dir, "lineitem").select(
        _qsk_bucket_expr("l_extendedprice", _QSK_W, _QSK_NBKT).alias("bkt"),
        "l_shipdate",
    )
    # ONE fused aggregation builds BOTH histograms (conditional count
    # for the pre-cutoff slice beside the full count) — one corpus
    # pass, one map-side-combined exchange, and the result frame is
    # <= _QSK_NBKT rows, so no checkpoint of corpus-sized data is
    # ever materialized (a localCheckpoint here cost 16x at the 100x
    # sweep: writing the bucket/date frame dominated the histograms)
    hist2 = v.groupBy("bkt").agg(
        F.count(
            F.when(
                F.col("l_shipdate") < F.lit(_LDA_CUTOFF).cast("timestamp"), 1
            )
        )
        .cast("long")
        .alias("c_old"),
        F.count(F.lit(1)).cast("long").alias("c"),
    ).localCheckpoint()  # sketch-sized; feeds the walk AND the audit
    old_hist = hist2.filter(F.col("c_old") > 0).select(
        "bkt", F.col("c_old").alias("c")
    )
    # pure-integer walk (q266's pattern): `div` against the window
    # total keeps both engines in int64 — a double quotient truncated
    # by cast could diverge from integer floor division once the
    # per-histogram sums approach 2^53
    old_walk = old_hist.select(
        "bkt",
        F.least(
            F.lit(_RPP_PARTS - 1),
            F.expr(
                f"(sum(c) over (order by bkt"
                f" rows between unbounded preceding and current row) - c)"
                f" * {_RPP_PARTS} div sum(c) over ()"
            ),
        )
        .cast("long")
        .alias("pid"),
    )
    w_lag = Window.orderBy("bkt")
    cuts = (
        old_walk.withColumn("prev_pid", F.lag("pid").over(w_lag))
        .filter(
            F.col("prev_pid").isNotNull()
            & (F.col("pid") != F.col("prev_pid"))
        )
        .select(F.col("bkt").alias("cut_bkt"))
    )
    full_hist = hist2.select("bkt", "c")
    assigned = (
        full_hist.join(
            F.broadcast(cuts), F.col("cut_bkt") <= F.col("bkt"), "left"
        )
        .groupBy("bkt", "c")
        .agg(F.count("cut_bkt").cast("long").alias("range_id"))
    )
    tot = full_hist.agg(F.sum("c").cast("long").alias("n_full"))
    ideal = F.expr(f"max(n_full) div {_RPP_PARTS}")
    skew = F.expr(
        f"(sum(c) - max(n_full) div {_RPP_PARTS}) * 1000000"
        f" div (max(n_full) div {_RPP_PARTS})"
    )
    return (
        assigned.crossJoin(F.broadcast(tot))
        .groupBy("range_id")
        .agg(
            F.sum("c").cast("long").alias("part_rows"),
            ideal.cast("long").alias("ideal_rows"),
            skew.cast("long").alias("skew_ppm"),
            (F.abs(skew) > _LDA_RECUT_PPM).alias("recut_needed"),
        )
    )


# ---------------------------------------------------------------------------
# Sketch family: Misra-Gries heavy-hitter summaries — the FIFTH
# member (distinct = KMV, frequency = CountMin, membership = Bloom,
# quantiles = histogram, frequency-TOP-K = MG), whose merge law is
# deliberately DIFFERENT in kind: MG is not homomorphic (merged
# summaries need not equal direct builds), it is mergeable with a
# ONE-SIDED BOUNDED undercount (Agarwal et al., "Mergeability of
# Summaries") — and that bound is what gets checked BY VALUE
# ---------------------------------------------------------------------------

_MG_K = 16  # counters kept per summary


def _mg_summary_sql(pred: str, name: str) -> str:
    """The order-independent offset form of a Misra-Gries summary
    over the events slice matching `pred`: t = the (k+1)-th largest
    frequency (tie-broken by user_id; 0 when fewer than k+1 items),
    counters = freq - t where positive. Deterministic in both
    engines."""
    return f"""
    freq_{name} AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE {pred} GROUP BY 1
    ),
    t_{name} AS (
      SELECT COALESCE(
        (SELECT c FROM freq_{name}
         ORDER BY c DESC, user_id LIMIT 1 OFFSET {_MG_K}), 0) AS t
    ),
    mg_{name} AS (
      SELECT f.user_id, f.c - t.t AS cnt
      FROM freq_{name} f CROSS JOIN t_{name} t
      WHERE f.c - t.t > 0
    )"""


def _mg_merge_oracle() -> str:
    return f"""
    WITH {_mg_summary_sql("event_id % 2 = 0", "a")},
    {_mg_summary_sql("event_id % 2 = 1", "b")},
    comb AS (
      SELECT COALESCE(a.user_id, b.user_id) AS user_id,
             COALESCE(a.cnt, 0) + COALESCE(b.cnt, 0) AS cnt
      FROM mg_a a FULL OUTER JOIN mg_b b ON b.user_id = a.user_id
    ),
    t_m AS (
      SELECT COALESCE(
        (SELECT cnt FROM comb
         ORDER BY cnt DESC, user_id LIMIT 1 OFFSET {_MG_K}), 0) AS t
    ),
    merged AS (
      SELECT c.user_id, c.cnt - t.t AS cnt
      FROM comb c CROSS JOIN t_m t
      WHERE c.cnt - t.t > 0
    ),
    exact AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_c
      FROM events GROUP BY 1
    ),
    n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
    offsets AS (
      SELECT ta.t AS t_a, tb.t AS t_b, tm.t AS t_merge,
             ta.t + tb.t + tm.t AS offset_sum
      FROM t_a ta CROSS JOIN t_b tb CROSS JOIN t_m tm
    ),
    keys AS (
      SELECT user_id FROM merged
      UNION
      SELECT e.user_id FROM exact e CROSS JOIN n_tot n
      WHERE e.exact_c * {_MG_K + 1} > n.n
    )
    SELECT k.user_id,
           CAST(COALESCE(m.cnt, 0) AS BIGINT) AS mg_count,
           e.exact_c,
           CAST(e.exact_c - COALESCE(m.cnt, 0) AS BIGINT) AS undercount,
           (m.user_id IS NOT NULL) AS in_merged,
           (e.exact_c * {_MG_K + 1} > n.n) AS is_true_heavy,
           o.t_a, o.t_b, o.t_merge,
           (e.exact_c - COALESCE(m.cnt, 0) <= o.offset_sum)
             AS item_bound_ok,
           (o.offset_sum * {_MG_K + 1} <= n.n) AS global_bound_ok
    FROM keys k
    JOIN exact e ON e.user_id = k.user_id
    LEFT JOIN merged m ON m.user_id = k.user_id
    CROSS JOIN n_tot n CROSS JOIN offsets o
    """


@query(
    "q276_mg_merge_bound",
    oracle=_mg_merge_oracle(),
    tags=("sketch", "heavy-hitters", "calibration", "observability"),
)
def q276_mg_merge_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MISRA-GRIES MERGE BOUND — the fifth sketch member's merge law,
    checked in its own (different) kind: KMV/CountMin/Bloom/histogram
    merges are HOMOMORPHIC (merged ≡ direct, q246/q251/q254), but a
    merged MG summary need not equal a direct build — what Agarwal et
    al. prove is a ONE-SIDED BOUNDED UNDERCOUNT, and that is what
    this query checks BY VALUE: two disjoint event slices are
    summarized in the order-independent offset form (counters =
    freq - t, t = the (k+1)-th largest frequency), merged by counter
    addition + re-trim, and every surviving counter rides a row with
    its exact count, its undercount, the per-item theorem
    (undercount <= t_a + t_b + t_merge) and the global theorem
    ((t_a + t_b + t_merge) * (k+1) <= n) — plus the completeness
    guarantee that makes q146's two-phase pattern safe: every TRUE
    heavy hitter (exact count > n/(k+1)) appears in the merged
    summary (`in_merged` on `is_true_heavy` rows).

    Exactness: frequencies, offsets, trims, and bounds are pure
    integers with (count desc, user_id) tie-breaks in both engines.

    Scale: each slice collapses to its count frame map-side; the
    offset is a rank-(k+1) probe (WindowGroupLimit shape); summaries
    are <= {_MG_K} rows, so the merge, re-trim, and every check run
    on sketch-sized frames. The exact side is calibration-only —
    production merges the {_MG_K}-counter summaries and drops it.

    Cites reference behavior: none (beyond-reference operator).
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    # ONE map-side-combined aggregation builds BOTH slice count
    # frames AND the exact side (conditional counts per user) — the
    # fused-histogram lesson from q275; the collapsed frame
    # checkpoints (compact, |users| rows) and feeds every rank probe
    # and check without rescanning events
    freq = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.when(F.col("event_id") % 2 == 0, 1))
            .cast("long")
            .alias("c_a"),
            F.count(F.when(F.col("event_id") % 2 == 1, 1))
            .cast("long")
            .alias("c_b"),
            F.count(F.lit(1)).cast("long").alias("exact_c"),
        )
        .localCheckpoint()
    )

    def offset_of(col: str):
        """(k+1)-th largest value of `col` (tie-break user_id) as a
        1-row broadcastable frame — the rank probe compiles to
        WindowGroupLimit over the collapsed frame."""
        w = Window.orderBy(F.col(col).desc(), "user_id")
        return (
            freq.filter(F.col(col) > 0)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == _MG_K + 1)
            .agg(
                F.coalesce(F.max(col), F.lit(0)).cast("long").alias(f"t_{col}")
            )
        )

    t_a, t_b = offset_of("c_a"), offset_of("c_b")
    with_cnts = (
        freq.crossJoin(F.broadcast(t_a))
        .crossJoin(F.broadcast(t_b))
        .select(
            "user_id",
            "exact_c",
            "t_c_a",
            "t_c_b",
            (
                F.greatest(F.col("c_a") - F.col("t_c_a"), F.lit(0))
                + F.greatest(F.col("c_b") - F.col("t_c_b"), F.lit(0))
            )
            .cast("long")
            .alias("cnt"),
        )
    )
    w_m = Window.orderBy(F.col("cnt").desc(), "user_id")
    t_m = (
        with_cnts.filter(F.col("cnt") > 0)
        .withColumn("rn", F.row_number().over(w_m))
        .filter(F.col("rn") == _MG_K + 1)
        .agg(F.coalesce(F.max("cnt"), F.lit(0)).cast("long").alias("t_merge"))
    )
    n_tot = freq.agg(F.sum("exact_c").cast("long").alias("n"))
    full = (
        with_cnts.crossJoin(F.broadcast(t_m))
        .crossJoin(F.broadcast(n_tot))
        .select(
            "user_id",
            "exact_c",
            F.col("t_c_a").alias("t_a"),
            F.col("t_c_b").alias("t_b"),
            "t_merge",
            "n",
            F.greatest(F.col("cnt") - F.col("t_merge"), F.lit(0))
            .cast("long")
            .alias("mcnt"),
        )
    )
    return (
        full.filter(
            (F.col("mcnt") > 0) | (F.col("exact_c") * (_MG_K + 1) > F.col("n"))
        )
        .select(
            "user_id",
            F.col("mcnt").alias("mg_count"),
            "exact_c",
            (F.col("exact_c") - F.col("mcnt")).cast("long").alias("undercount"),
            (F.col("mcnt") > 0).alias("in_merged"),
            (F.col("exact_c") * (_MG_K + 1) > F.col("n")).alias(
                "is_true_heavy"
            ),
            "t_a",
            "t_b",
            "t_merge",
            (
                F.col("exact_c") - F.col("mcnt")
                <= F.col("t_a") + F.col("t_b") + F.col("t_merge")
            ).alias("item_bound_ok"),
            (
                (F.col("t_a") + F.col("t_b") + F.col("t_merge")) * (_MG_K + 1)
                <= F.col("n")
            ).alias("global_bound_ok"),
        )
    )
