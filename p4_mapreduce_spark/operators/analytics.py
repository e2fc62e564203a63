"""Behavioral / product-analytics operators: funnel, cohort retention,
histogram, sequence packing, correlation, stratified sampling.

The event-log and corpus analytics a warehouse engine is asked for
beyond plain rollups (reference scope: SURVEY.md §2.4 taxonomy rows for
aggregation/window; these are the composite shapes built from them):

- **funnel**: staged per-user min-timestamps, then ordered-stage
  conditional counting — one shuffle on user_id, one global reduce.
- **cohort retention**: the classic triangle (cohort month × months
  since first activity) from a single fact table.
- **histogram**: fixed-width value bucketing; bucket math is pure
  arithmetic so it fuses into the scan (no width_bucket dependency —
  identical in any dialect).
- **sequence packing**: greedy token-budget windows per (source, shard)
  — the batch-assembly step after :mod:`pipeline_ops`'s chunking.
- **corr/covar**: recomposed from normalized sums like
  ``stats_moments`` (builtin corr's reduction order never hash-matches).
- **stratified sample**: deterministic hash-ordered top-k per stratum.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from p4_mapreduce_spark.functions.deterministic import fix, fix_sql, fsum, fsum_sql
from p4_mapreduce_spark.functions.timeutil import epoch_micros
from p4_mapreduce_spark.registry import register
from p4_mapreduce_spark.stagemat import stage_ck
from p4_mapreduce_spark.sources.tables import load


@register(
    "funnel_conversion",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
        GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN t_view IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click >= t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click >= t_view
                              AND t_purchase >= t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click_purchase
    FROM per_user
    """,
    doc="Ordered funnel (view → click → purchase): per-user min "
    "timestamp per stage, then conditional stage counting with the "
    "order constraint (a later stage only counts if it happened at or "
    "after the user's earlier stage). One shuffle on user_id, then a "
    "single-row global reduce — the standard two-phase funnel that "
    "scales linearly in events regardless of funnel depth.",
    tags=("events", "funnel", "aggregation"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts")
        .where(F.col("event_type").isin("view", "click", "purchase"))
    )
    stage_min = lambda s: F.min(F.when(F.col("event_type") == s, F.col("ts")))
    per_user = ev.groupBy("user_id").agg(
        stage_min("view").alias("t_view"),
        stage_min("click").alias("t_click"),
        stage_min("purchase").alias("t_purchase"),
    )
    reached_view = F.col("t_view").isNotNull()
    reached_click = reached_view & (F.col("t_click") >= F.col("t_view"))
    reached_purchase = reached_click & (F.col("t_purchase") >= F.col("t_click"))
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        flag(reached_view).alias("n_view"),
        flag(reached_click).alias("n_view_click"),
        flag(reached_purchase).alias("n_view_click_purchase"),
    )


@register(
    "cohort_retention",
    oracle="""
    WITH months AS (
        SELECT DISTINCT o_custkey,
               date_trunc('month', o_orderdate) AS active_month
        FROM orders
    ), cohorts AS (
        SELECT o_custkey, active_month,
               min(active_month) OVER (PARTITION BY o_custkey) AS cohort_month
        FROM months
    )
    SELECT cohort_month,
           CAST((year(active_month) - year(cohort_month)) * 12
              + (month(active_month) - month(cohort_month)) AS INTEGER)
               AS months_since,
           count(*) AS n_active_customers
    FROM cohorts GROUP BY cohort_month, months_since
    """,
    doc="Cohort retention triangle: cohort = month of first order per "
    "customer (window min over o_custkey — no self-join), months_since "
    "as pure integer year/month arithmetic (months_between's float "
    "return is a cross-engine trap), count of distinct active "
    "customers per (cohort, offset) cell. Distinct-months first shrinks "
    "the window input to ≤ |customer|×|months| rows; two shuffles "
    "total (custkey window, final rollup).",
    tags=("events", "cohort", "window", "aggregation"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    months = (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.date_trunc("month", F.col("o_orderdate")).alias("active_month"),
        )
        .distinct()
    )
    w = Window.partitionBy("o_custkey")
    cohorts = months.withColumn("cohort_month", F.min("active_month").over(w))
    months_since = (
        (F.year("active_month") - F.year("cohort_month")) * 12
        + (F.month("active_month") - F.month("cohort_month"))
    ).cast("int")
    return (
        cohorts.select("cohort_month", months_since.alias("months_since"))
        .groupBy("cohort_month", "months_since")
        .agg(F.count(F.lit(1)).alias("n_active_customers"))
    )


_HIST_STEP = 25_000.0
_HIST_BUCKETS = 24


@register(
    "histogram_order_values",
    oracle=f"""
    WITH bucketed AS (
        SELECT o_totalprice,
               least(greatest(CAST(floor(o_totalprice / {_HIST_STEP}) AS INTEGER),
                              0), {_HIST_BUCKETS - 1}) AS bucket
        FROM orders
    )
    SELECT bucket,
           bucket * {_HIST_STEP} AS bucket_lo,
           count(*) AS n_orders,
           {fsum_sql('o_totalprice')} AS sum_value
    FROM bucketed GROUP BY bucket
    """,
    doc=f"Fixed-width histogram of order values ({_HIST_BUCKETS} buckets "
    f"of {_HIST_STEP:.0f}, clamped ends): bucket id is pure floor "
    "arithmetic (no width_bucket builtin — the expression is dialect-"
    "portable and fuses into the scan), so the whole histogram is one "
    f"scan + one {_HIST_BUCKETS}-key shuffle. The equi-width recipe "
    "behind every profiler's value-distribution panel.",
    tags=("aggregation", "histogram", "stats"),
)
def histogram_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    bucket = F.least(
        F.greatest(
            F.floor(F.col("o_totalprice") / _HIST_STEP).cast("int"), F.lit(0)
        ),
        F.lit(_HIST_BUCKETS - 1),
    )
    return (
        o.select("o_totalprice", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            (F.col("bucket") * _HIST_STEP).alias("bucket_lo"),
            F.count(F.lit(1)).alias("n_orders"),
            fsum("o_totalprice").alias("sum_value"),
        )
        .select("bucket", "bucket_lo", "n_orders", "sum_value")
    )


_PACK_BUDGET = 4096.0
_PACK_SHARDS = 8


@register(
    "seq_pack_shards",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(doc_id % {_PACK_SHARDS} AS INTEGER) AS shard,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ), packed AS (
        SELECT source, shard, doc_id, n_tokens,
               CAST(floor(CAST(coalesce(sum(n_tokens) OVER (
                   PARTITION BY source, shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) / {_PACK_BUDGET}) AS BIGINT) AS window_id
        FROM toks
    )
    SELECT source, shard, window_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS window_tokens,
           min(doc_id) AS first_doc_id,
           max(doc_id) AS last_doc_id
    FROM packed GROUP BY source, shard, window_id
    """,
    doc=f"Sequence packing for training-batch assembly: docs are packed "
    f"in doc_id order into ~{_PACK_BUDGET:.0f}-token windows via an "
    "exclusive running token sum (window_id = floor(cum_before / "
    "budget)), so every window except a shard's last is filled past "
    "budget by at most one doc. The running sum is sequential, so it "
    "runs per (source, shard = doc_id % "
    f"{_PACK_SHARDS}) — shards pack independently and in parallel; at "
    "100 TB, shard count scales with the cluster and packing stays "
    "embarrassingly parallel (one shuffle to co-locate shards).",
    tags=("text", "pipeline", "window"),
)
def seq_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (F.col("doc_id") % _PACK_SHARDS).cast("int").alias("shard"),
        F.size(F.split("text", " ", -1)).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    packed = toks.withColumn(
        "window_id", F.floor(cum_before / _PACK_BUDGET).cast("long")
    )
    return packed.groupBy("source", "shard", "window_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("window_tokens"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
    )


@register(
    "corr_discount_tax",
    oracle=f"""
    SELECT l_returnflag,
           count(*) AS n,
           (({fsum_sql('l_discount * l_tax', 4)})
             - ({fsum_sql('l_discount')}) * ({fsum_sql('l_tax')}) / count(*))
             / count(*) AS covar_pop,
           (({fsum_sql('l_discount * l_tax', 4)})
             - ({fsum_sql('l_discount')}) * ({fsum_sql('l_tax')}) / count(*))
             / (sqrt(({fsum_sql('l_discount * l_discount', 4)})
                     - ({fsum_sql('l_discount')}) * ({fsum_sql('l_discount')}) / count(*))
                * sqrt(({fsum_sql('l_tax * l_tax', 4)})
                       - ({fsum_sql('l_tax')}) * ({fsum_sql('l_tax')}) / count(*)))
             AS corr
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Pearson correlation + population covariance of discount vs tax "
    "per returnflag, recomposed from normalized sums (Σx, Σy, Σxy, Σx², "
    "Σy²) exactly like stats_moments — the corr/covar_pop builtins' "
    "reduction order never hash-matches across engines. Small-magnitude "
    "columns (≤0.1) keep the sum-of-products float error orders of "
    "magnitude under the 1e-4 normalization boundary even at 1e9 rows "
    "per group. Five partial sums fuse into one aggregate pass.",
    tags=("aggregation", "stats"),
)
def corr_discount_tax(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    sx = fsum("l_discount")
    sy = fsum("l_tax")
    sxy = fsum(F.col("l_discount") * F.col("l_tax"), 4)
    sxx = fsum(F.col("l_discount") * F.col("l_discount"), 4)
    syy = fsum(F.col("l_tax") * F.col("l_tax"), 4)
    cov_num = sxy - sx * sy / n
    corr = cov_num / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n))
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        (cov_num / n).alias("covar_pop"),
        corr.alias("corr"),
    )


_SAMPLE_K = 100


@register(
    "stratified_sample_per_group",
    oracle=f"""
    WITH ranked AS (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey
               ) AS rn
        FROM customer
    )
    SELECT c_mktsegment,
           count(*) AS n_sampled,
           min(c_custkey) AS min_custkey,
           max(c_custkey) AS max_custkey,
           {fsum_sql('c_acctbal')} AS sample_bal
    FROM ranked WHERE rn <= {_SAMPLE_K} GROUP BY c_mktsegment
    """,
    doc=f"Stratified sampling: exactly {_SAMPLE_K} rows per stratum "
    "(market segment), chosen by md5-hash order — deterministic across "
    "runs and engines, unlike rand()-based sampleBy, and stable under "
    "row-order changes. Spark plans WindowGroupLimit (per-partition "
    "top-k heaps before the shuffle), so the full table is never "
    "sorted; the validated sample rolls up per stratum.",
    tags=("sampling", "window", "aggregation"),
)
def stratified_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string")), "c_custkey"
    )
    sampled = c.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= _SAMPLE_K
    )
    return sampled.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("c_custkey").alias("min_custkey"),
        F.max("c_custkey").alias("max_custkey"),
        fsum("c_acctbal").alias("sample_bal"),
    )


_SESSION_GAP_US = 1_800_000_000  # 30 min, in epoch-microseconds


@register(
    "sessionize_events",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_id,
               epoch_us(ts) AS ts_us,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_us,
               value
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN gap_us IS NULL OR gap_us > {_SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS new_sess
        FROM ordered
    ),
    sess AS (
        SELECT *,
               CAST(sum(new_sess) OVER (PARTITION BY user_id
                                        ORDER BY ts_us, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_idx
        FROM flagged
    )
    SELECT user_id, session_idx,
           count(*) AS n_events,
           min(ts_us) AS session_start_us,
           (max(ts_us) - min(ts_us)) // 1000000 AS duration_secs,
           {fsum_sql('value')} AS session_value
    FROM sess GROUP BY user_id, session_idx
    """,
    doc="Batch sessionization (30-min inactivity gap): per-user lag() "
    "gap detection, session ids via running sum of new-session flags, "
    "then per-session rollup. One shuffle on user_id serves both "
    "windows and the rollup (same partition key). Gap math runs on "
    "epoch microseconds (both engines truncate parquet nanos the same "
    "way). At 100 TB this is the canonical log→session ETL: linear, "
    "skew-bounded by the busiest single user.",
    tags=("events", "sessionization", "window", "aggregation"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load(spark, sf_dir, "events")
    ev = raw.select(
        "user_id", "event_id", epoch_micros(raw).alias("ts_us"), "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    new_sess = F.when(
        gap.isNull() | (gap > _SESSION_GAP_US), F.lit(1)
    ).otherwise(F.lit(0))
    sess = ev.withColumn(
        "session_idx",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.expr("(max(ts_us) - min(ts_us)) div 1000000").alias("duration_secs"),
        fsum("value").alias("session_value"),
    )


@register(
    "time_rollup_hierarchy",
    oracle=f"""
    SELECT yr, mo, dy,
           {fsum_sql('o_totalprice')} AS revenue,
           count(*) AS n_orders
    FROM (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
               CAST(month(o_orderdate) AS INTEGER) AS mo,
               CAST(day(o_orderdate) AS INTEGER) AS dy,
               o_totalprice
        FROM orders
    )
    GROUP BY ROLLUP (yr, mo, dy)
    """,
    doc="Time-dimension rollup (day → month → year → grand total) in "
    "one pass — the hypertable / continuous-aggregate shape: GROUPING "
    "SETS expand inside the aggregate, so the fact table is scanned "
    "once and the shuffle carries one row per (grain × group), not one "
    "per input row. At 100 TB this replaces four separate daily/"
    "monthly/yearly rollup jobs; pre-aggregated outputs land in the "
    "serving store keyed by grain.",
    tags=("aggregation", "grouping-sets", "time"),
)
def time_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        "o_totalprice",
    )
    return o.rollup("yr", "mo", "dy").agg(
        fsum("o_totalprice").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "dedup_keep_latest",
    oracle="""
    SELECT user_id, event_id, ts_us, value
    FROM (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    doc="Keep-latest-per-key dedup (the CDC compaction primitive): "
    "row_number over (key, ts DESC) with a deterministic event_id "
    "tie-break, keep rank 1 — unlike dropDuplicates, the survivor is "
    "defined, reproducible, and engine-independent. Spark plans a "
    "WindowGroupLimit: per-partition top-1 heaps run BEFORE the "
    "shuffle, so the shuffle carries one candidate row per (key x "
    "task), not the full history — the property that makes snapshot "
    "compaction of a 100 TB changelog tractable.",
    tags=("dedup", "window", "cdc"),
)
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load(spark, sf_dir, "events")
    ev = raw.select(
        "user_id", "event_id", epoch_micros(raw).alias("ts_us"), "value"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "ts_us", "value")
    )


@register(
    "mom_revenue_growth",
    oracle=f"""
    WITH monthly AS (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
               CAST(month(o_orderdate) AS INTEGER) AS mo,
               {fsum_sql('o_totalprice')} AS revenue
        FROM orders GROUP BY yr, mo
    )
    SELECT yr, mo, revenue,
           lag(revenue) OVER w AS prev_revenue,
           floor((revenue - lag(revenue) OVER w)
                 / lag(revenue) OVER w * 1e6 + 0.5) / 1e6 AS growth
    FROM monthly
    WINDOW w AS (ORDER BY yr, mo)
    """,
    doc="Month-over-month revenue growth: monthly rollup, then lag() "
    "over the month sequence. The window is global but runs over the "
    "already-reduced monthly frame (one row per month — thousands of "
    "rows at any corpus size), so the single-partition window is "
    "free; the heavy lifting stays in the partial-aggregated monthly "
    "rollup. Growth normalized at 1e-6 (division of identical "
    "normalized revenues is engine-exact).",
    tags=("window", "aggregation", "time"),
)
def mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
        )
        .agg(fsum("o_totalprice").alias("revenue"))
    )
    w = Window.orderBy("yr", "mo")
    prev = F.lag("revenue").over(w)
    growth = F.floor(
        (F.col("revenue") - prev) / prev * 1e6 + F.lit(0.5)
    ) / 1e6
    return monthly.select(
        "yr",
        "mo",
        "revenue",
        prev.alias("prev_revenue"),
        growth.alias("growth"),
    )


@register(
    "robust_outliers_mad",
    oracle="""
    WITH med AS (
        SELECT event_type,
               floor(quantile_cont(value, 0.5) * 1000000.0 + 0.5)
                   / 1000000.0 AS med
        FROM events GROUP BY event_type
    ),
    mad AS (
        SELECT * FROM (
            SELECT e.event_type,
                   floor(quantile_cont(abs(e.value - m.med), 0.5)
                         * 1000000.0 + 0.5) / 1000000.0 AS mad
            FROM events e JOIN med m USING (event_type)
            GROUP BY e.event_type, m.med
        ) WHERE mad > 0
    )
    SELECT e.event_id, e.event_type, e.value,
           floor(abs(e.value - m.med) / (1.4826 * d.mad)
                 * 10000.0 + 0.5) / 10000.0 AS robust_z
    FROM events e
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    WHERE abs(e.value - m.med) / (1.4826 * d.mad) > 3.5
    """,
    doc="Robust outlier detection via median absolute deviation "
    "(median/MAD are immune to the outliers they hunt, unlike "
    "mean/stddev z-scores): per event type, flag events with "
    "|x - median| / (1.4826 * MAD) > 3.5 — the standard data-quality "
    "screen before ingestion (the events.value tail carries real "
    "outliers: ~0.25%% of rows at every SF). Groups with MAD == 0 "
    "(>= 50%% identical values — degenerate for a spread-normalized "
    "score, and an engine-divergent Infinity under floor "
    "normalization) are excluded in both arms. Two exact-percentile "
    "aggregates per group (each one shuffle over the same key, reduced "
    "frames join back broadcast); at 100 TB swap percentile for "
    "approx_percentile and keep the identical topology. Medians are "
    "floor-quantized at 1e-6 (both engines interpolate with the same "
    "IEEE expression; quantization removes any doubt), the emitted "
    "robust_z at 1e-4.",
    tags=("aggregation", "quality", "stats", "events"),
)
def robust_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p4_mapreduce_spark.functions.deterministic import fix

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    med = ev.groupBy("event_type").agg(
        fix(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    with_med = ev.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type").agg(
        fix(F.expr("percentile(abs(value - med), 0.5)"), 6).alias("mad")
    ).where(F.col("mad") > 0)
    z = F.abs(F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return (
        with_med.join(F.broadcast(mad), "event_type")
        .where(z > 3.5)
        .select(
            "event_id",
            "event_type",
            "value",
            fix(z, 4).alias("robust_z"),
        )
    )


@register(
    "skew_key_diagnosis",
    oracle="""
    WITH per_key AS (
        SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           max(cnt) AS max_per_key,
           floor(quantile_cont(cnt, 0.99) * 1000000.0 + 0.5)
               / 1000000.0 AS p99_per_key,
           floor(max(cnt) / (CAST(sum(cnt) AS DOUBLE) / count(*))
                 * 10000.0 + 0.5) / 10000.0 AS skew_ratio
    FROM per_key
    """,
    doc="Partition-key skew diagnosis (run this BEFORE choosing a "
    "shuffle key at 100 TB): per-key row counts reduced to key "
    "cardinality, hottest-key load, p99 load, and the skew ratio "
    "max/avg — the number that decides between a plain shuffle "
    "(ratio ~1), AQE skew-split (moderate), and salting (extreme; see "
    "salted_skew_agg / join_skew_split_hot_keys for the remedies). "
    "Two aggregations, both map-side combined: the first shuffles "
    "~|keys| rows, the second reduces |keys| to 1. Exact percentile "
    "over per-key counts floor-quantized at 1e-6, ratio at 1e-4.",
    tags=("aggregation", "stats", "skew", "events"),
)
def skew_key_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p4_mapreduce_spark.functions.deterministic import fix

    per_key = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    avg = F.sum("cnt").cast("double") / F.count(F.lit(1))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_per_key"),
        fix(F.expr("percentile(cnt, 0.99)"), 6).alias("p99_per_key"),
        fix(F.max("cnt") / avg, 4).alias("skew_ratio"),
    )


# Market-basket minimum support: a brand pair must co-occur in at
# least this fraction of baskets to be reported. Relative (not
# absolute) so the same query is meaningful at every scale factor.
_BASKET_MIN_SUPPORT = 0.025


@register(
    "frequent_itemsets_pairs",
    oracle=f"""
    WITH ob AS (
        SELECT DISTINCT l_orderkey AS ok, p_brand AS b
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    nb AS (SELECT count(DISTINCT ok) AS n FROM ob),
    isupp AS (SELECT b, count(*) AS s FROM ob GROUP BY b),
    pairs AS (
        SELECT a.b AS brand_a, c.b AS brand_b, count(*) AS support
        FROM ob a JOIN ob c ON a.ok = c.ok AND a.b < c.b
        GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, support,
           {fix_sql("support / n", 6)} AS support_frac,
           {fix_sql("(support * n) / (sa.s * sb.s)", 6)} AS lift,
           {fix_sql("support / sa.s", 6)} AS conf_a_b,
           {fix_sql("support / sb.s", 6)} AS conf_b_a
    FROM pairs
    JOIN isupp sa ON brand_a = sa.b
    JOIN isupp sb ON brand_b = sb.b
    CROSS JOIN nb
    WHERE support >= CAST({_BASKET_MIN_SUPPORT} AS DOUBLE) * n
    """,
    doc="Market-basket frequent-pair mining (the A-Priori L2 pass): "
    "baskets are orders, items the part brands they contain; emits "
    "every brand pair above 2.5% support with lift and both-direction "
    "confidences — the association-rule triple. Scale shape: the only "
    "corpus-sized steps are the lineitem-part equi-join and ONE "
    "groupBy(orderkey) whose collect_set partial-aggregates (set "
    "bounded by |brands| = 25, so per-basket state is tiny); pair "
    "generation is an array-combination explode per basket — "
    "quadratic in basket WIDTH, never in corpus size — and everything "
    "after lives on a <= |brands|^2/2-row frame. Item supports and "
    "the basket count re-aggregate that tiny frame (broadcast back), "
    "so no second corpus scan. Lift/confidence are single IEEE "
    "divisions of exact bigint products, floor-quantized at 1e-6.",
    headline=True,
    tags=("aggregation", "pattern-mining", "pipeline"),
)
def frequent_itemsets_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p4_mapreduce_spark.functions.deterministic import fix

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("arr"))
    )
    # r13: three consumers (pairs, isupp, nb) share the orderkey
    # EXCHANGE but each re-ran the collect_set aggregation above it
    # (stage metrics: two ~2.7/0.5 core-second reduce stages reading
    # the same 6.3 MB shuffle). The basket frame is bounded (one row
    # per order, arr <= |brands| = 25), so materialize it once;
    # compute_heavy because the duplicated cost is post-shuffle agg
    # CPU, which the byte-keyed corpus-size gate cannot price
    # (interleaved A/B at sf0.1: min 2.02 -> 1.83s, <= in 4/5 pairs).
    baskets = stage_ck(baskets, compute_heavy=True)
    # ordered combinations of the sorted set: (arr[i], arr[j]) for i<j
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(arr, (x, i) -> "
                "transform(slice(arr, i + 2, size(arr)), "
                "y -> struct(x AS brand_a, y AS brand_b))))"
            )
        ).alias("p")
    ).select("p.brand_a", "p.brand_b")
    supp = pairs.groupBy("brand_a", "brand_b").agg(
        F.count(F.lit(1)).alias("support")
    )
    isupp = (
        baskets.select(F.explode("arr").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    nb = baskets.agg(F.count(F.lit(1)).alias("n"))
    sa = isupp.select(F.col("b").alias("brand_a"), F.col("s").alias("s_a"))
    sb = isupp.select(F.col("b").alias("brand_b"), F.col("s").alias("s_b"))
    return (
        supp.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(nb))
        .where(F.col("support") >= F.lit(_BASKET_MIN_SUPPORT) * F.col("n"))
        .select(
            "brand_a",
            "brand_b",
            "support",
            fix(F.col("support") / F.col("n"), 6).alias("support_frac"),
            fix(
                (F.col("support") * F.col("n")) / (F.col("s_a") * F.col("s_b")), 6
            ).alias("lift"),
            fix(F.col("support") / F.col("s_a"), 6).alias("conf_a_b"),
            fix(F.col("support") / F.col("s_b"), 6).alias("conf_b_a"),
        )
    )


@register(
    "mutual_information_lang_source",
    oracle=f"""
    WITH cells AS (
        SELECT lang, source, count(*) AS n_joint
        FROM documents GROUP BY lang, source
    ),
    tot AS (SELECT sum(n_joint) AS n FROM cells),
    mx AS (SELECT lang, sum(n_joint) AS n_x FROM cells GROUP BY lang),
    my AS (SELECT source, sum(n_joint) AS n_y FROM cells GROUP BY source)
    SELECT c.lang, c.source, c.n_joint,
           {fix_sql("(c.n_joint * n) / (n_x * n_y)", 6)} AS lift,
           {fix_sql("ln((c.n_joint * n) / (n_x * n_y))", 6)} AS pmi,
           {fix_sql(
               "c.n_joint * (" + fix_sql(
                   "ln((c.n_joint * n) / (n_x * n_y))", 6) + ") / n", 9)}
               AS mi_term
    FROM cells c
    JOIN mx USING (lang) JOIN my USING (source) CROSS JOIN tot
    """,
    doc="Mutual-information decomposition of the corpus (lang x "
    "source): per-cell joint count, lift, PMI, and the cell's "
    "additive MI contribution — sum(mi_term) IS I(lang; source), the "
    "number that says whether language mix is independent of data "
    "source (the mixture-design diagnostic: a high-MI corpus cannot "
    "be re-weighted per-language without also shifting the source "
    "mix). Scale shape: ONE map-side-combined corpus aggregation to "
    "the (lang, source) contingency table, bounded by the label-space "
    "product; marginals and the total re-aggregate that tiny frame "
    "and broadcast back, so the corpus is scanned exactly once. Lift "
    "is one IEEE division of exact bigint products; ln (the only "
    "engine-divergent op) is floor-quantized at 1e-6 before the "
    "per-cell MI product, mi_term at 1e-9.",
    tags=("stats", "aggregation", "pipeline", "text"),
)
def mutual_information_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p4_mapreduce_spark.functions.deterministic import fix

    cells = (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_joint"))
    )
    tot = cells.agg(F.sum("n_joint").alias("n"))
    mx = cells.groupBy("lang").agg(F.sum("n_joint").alias("n_x"))
    my = cells.groupBy("source").agg(F.sum("n_joint").alias("n_y"))
    lift = (F.col("n_joint") * F.col("n")) / (F.col("n_x") * F.col("n_y"))
    pmi = fix(F.log(lift), 6)
    return (
        cells.join(F.broadcast(mx), "lang")
        .join(F.broadcast(my), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_joint",
            fix(lift, 6).alias("lift"),
            pmi.alias("pmi"),
            fix(F.col("n_joint") * pmi / F.col("n"), 9).alias("mi_term"),
        )
    )


@register(
    "markov_event_transitions",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id)
                   AS prev_type
        FROM events
    ),
    tr AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    outdeg AS (
        SELECT from_type, CAST(sum(n) AS BIGINT) AS total
        FROM tr GROUP BY 1
    )
    SELECT from_type, to_type, n,
           {fix_sql("n / CAST(total AS DOUBLE)", 6)} AS p
    FROM tr JOIN outdeg USING (from_type)
    """,
    doc="First-order Markov model of user journeys: per-user "
    "time-ordered event sequences reduced to the transition matrix "
    "(from_type, to_type, count, conditional probability) — the "
    "product-analytics primitive behind next-action prediction, "
    "anomalous-flow detection, and funnel discovery. Scale shape: "
    "ONE shuffle on user_id for the lag window (sequences stay "
    "within their user partition — exactly how a 100 TB event log "
    "is already bucketed), then a map-side-combined rollup to the "
    "event-type-squared matrix; out-degree totals re-aggregate that "
    "bounded frame and join back broadcast. Epoch ordering uses the "
    "timestamp-type-proof micros helper (bit-identical to DuckDB "
    "epoch_us), ties broken on event_id; probabilities are single "
    "IEEE divisions of exact bigints, floor-quantized at 1e-6.",
    tags=("events", "window", "aggregation", "stats"),
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from p4_mapreduce_spark.functions.deterministic import fix

    ev = load(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type")
        .over(
            Window.partitionBy("user_id").orderBy(
                epoch_micros(ev), "event_id"
            )
        )
        .alias("prev_type"),
    )
    tr = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    outdeg = tr.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("total")
    )
    return tr.join(F.broadcast(outdeg), "from_type").select(
        "from_type",
        "to_type",
        "n",
        fix(F.col("n") / F.col("total").cast("double"), 6).alias("p"),
    )


@register(
    "attribution_last_touch",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id
                         ORDER BY epoch_us(ts), event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_touch
        FROM events
    ),
    att AS (
        SELECT coalesce(prev_touch, 'direct') AS channel
        FROM seq WHERE event_type = 'purchase'
    ),
    c AS (SELECT channel, count(*) AS n_purchases FROM att GROUP BY 1),
    tot AS (SELECT CAST(sum(n_purchases) AS BIGINT) AS t FROM c)
    SELECT channel, n_purchases,
           {fix_sql("n_purchases / CAST(t AS DOUBLE)", 6)} AS share
    FROM c CROSS JOIN tot
    """,
    doc="Last-touch attribution: every purchase is credited to the "
    "user's most recent preceding non-purchase event (ignore-nulls "
    "last_value over the user's time-ordered stream; no prior touch "
    "=> 'direct'), rolled up to per-channel purchase counts and "
    "shares — the marketing-attribution baseline every event "
    "warehouse ships first. Scale shape: ONE shuffle on user_id for "
    "the window (the event log's native bucketing), then a "
    "channel-cardinality rollup; the share denominator re-aggregates "
    "that bounded frame. Epoch ordering via the timestamp-type-proof "
    "micros helper, ties on event_id; shares are single IEEE "
    "divisions of exact bigints, quantized at 1e-6.",
    tags=("events", "window", "aggregation", "funnel"),
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p4_mapreduce_spark.functions.deterministic import fix

    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_micros(ev), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "event_type",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(w)
        .alias("prev_touch"),
    )
    c = (
        seq.where(F.col("event_type") == "purchase")
        .select(F.coalesce(F.col("prev_touch"), F.lit("direct")).alias("channel"))
        .groupBy("channel")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    tot = c.agg(F.sum("n_purchases").cast("bigint").alias("t"))
    return c.crossJoin(F.broadcast(tot)).select(
        "channel",
        "n_purchases",
        fix(F.col("n_purchases") / F.col("t").cast("double"), 6).alias("share"),
    )


@register(
    "rolling_active_users",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               user_id
        FROM events
    ),
    dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
    contrib AS (
        SELECT day + i AS w, user_id
        FROM du, unnest(range(7)) AS t(i)
    ),
    wau AS (
        SELECT w AS day, count(DISTINCT user_id) AS wau
        FROM contrib GROUP BY 1
    )
    SELECT day,
           strftime(DATE '1970-01-01' + CAST(day AS INTEGER), '%Y-%m-%d')
               AS date,
           dau.dau, wau.wau
    FROM dau JOIN wau USING (day)
    """,
    doc="Rolling engagement: exact daily active users and trailing-"
    "7-day active users per day — the DAU/WAU pair every growth "
    "dashboard is built on, computed exactly (not HLL) by the "
    "contribute-forward trick: each (day, user) activity row is "
    "exploded into the <= 7 trailing windows it supports, so the "
    "sliding distinct count becomes a plain groupBy — no self-join, "
    "no re-scan per window. Day boundaries are pure integer "
    "epoch-microsecond division (dialect-proof; no timezone "
    "dependence). Scale shape: one distinct to the (day, user) "
    "activity frame (the corpus-sized step, map-side combined), a "
    "7x explode of THAT reduced frame, and two bounded-key rollups. "
    "All integer arithmetic.",
    tags=("events", "aggregation", "timeseries"),
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    du = ev.select(
        (epoch_micros(ev) / F.lit(86400000000)).cast("bigint").alias("day"),
        "user_id",
    ).distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = du.select(
        "day", "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i")
    ).select((F.col("day") + F.col("i")).alias("w"), "user_id")
    wau = contrib.groupBy(F.col("w").alias("day")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    return dau.join(wau, "day").select(
        "day",
        F.date_format(
            F.date_add(
                F.lit("1970-01-01").cast("date"), F.col("day").cast("int")
            ),
            "yyyy-MM-dd",
        ).alias("date"),
        "dau",
        "wau",
    )


@register(
    "rfm_customer_segments",
    oracle=f"""
    WITH rfm AS (
        SELECT o_custkey,
               CAST(datediff('day', max(o_orderdate),
                             (SELECT max(o_orderdate) FROM orders))
                    AS BIGINT) AS recency_days,
               count(*) AS frequency,
               {fsum_sql('o_totalprice')} AS monetary
        FROM orders GROUP BY o_custkey
    ),
    cuts AS (
        SELECT quantile_cont(recency_days, CAST(1 AS DOUBLE) / 3) AS r1,
               quantile_cont(recency_days, CAST(2 AS DOUBLE) / 3) AS r2,
               quantile_cont(frequency, CAST(1 AS DOUBLE) / 3) AS f1,
               quantile_cont(frequency, CAST(2 AS DOUBLE) / 3) AS f2,
               quantile_cont(monetary, CAST(1 AS DOUBLE) / 3) AS m1,
               quantile_cont(monetary, CAST(2 AS DOUBLE) / 3) AS m2
        FROM rfm
    ),
    scored AS (
        SELECT CASE WHEN recency_days <= r1 THEN 3
                    WHEN recency_days <= r2 THEN 2 ELSE 1 END AS r_score,
               CASE WHEN frequency <= f1 THEN 1
                    WHEN frequency <= f2 THEN 2 ELSE 3 END AS f_score,
               CASE WHEN monetary <= m1 THEN 1
                    WHEN monetary <= m2 THEN 2 ELSE 3 END AS m_score,
               monetary
        FROM rfm CROSS JOIN cuts
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_customers,
           {fix_sql("(CAST(sum(CAST(floor(monetary * 100.0 + 0.5) AS BIGINT))"
                    " AS BIGINT) / count(*)) / 100.0", 4)} AS avg_monetary
    FROM scored GROUP BY 1, 2, 3
    """,
    doc="RFM customer segmentation (the CRM/retention workhorse): "
    "recency (days since last order, vs the corpus max date), "
    "frequency (order count) and monetary (total spend) per customer, "
    "each cut at its terciles into 1-3 scores (3 best) and rolled up "
    "to the 27-cell segment grid with sizes and mean spend — "
    "'champions' (333) through 'at-risk big spenders' (1-3) fall out "
    "directly. Scale shape: one map-side-combined rollup to the "
    "customer frame, one exact-percentile aggregation over it (the "
    "documented exact-path contract — swap approx_percentile at "
    "100 TB), a 1-row cut frame broadcast back, a 27-key rollup. "
    "Tercile comparisons are bit-safe unquantized (the "
    "ccnet_perplexity_buckets adjacency argument: every score is "
    "bit-identical in both engines and interpolated cuts fall "
    "strictly between adjacent values); means are bigint-cent sums.",
    tags=("aggregation", "stats", "cohort"),
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p4_mapreduce_spark.functions.deterministic import fix

    o = load(spark, sf_dir, "orders")
    maxd = o.agg(F.max("o_orderdate").alias("dmax"))
    rfm = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("dlast"),
            F.count(F.lit(1)).alias("frequency"),
            fsum("o_totalprice").alias("monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            F.datediff("dmax", "dlast").cast("bigint").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    q = lambda c, p: F.percentile(c, F.lit(p))  # noqa: E731
    cuts = rfm.agg(
        q("recency_days", 1.0 / 3).alias("r1"),
        q("recency_days", 2.0 / 3).alias("r2"),
        q("frequency", 1.0 / 3).alias("f1"),
        q("frequency", 2.0 / 3).alias("f2"),
        q("monetary", 1.0 / 3).alias("m1"),
        q("monetary", 2.0 / 3).alias("m2"),
    )
    lowbest = lambda c, c1, c2: (  # noqa: E731
        F.when(F.col(c) <= F.col(c1), 3)
        .when(F.col(c) <= F.col(c2), 2)
        .otherwise(1)
    )
    highbest = lambda c, c1, c2: (  # noqa: E731
        F.when(F.col(c) <= F.col(c1), 1)
        .when(F.col(c) <= F.col(c2), 2)
        .otherwise(3)
    )
    scored = rfm.crossJoin(F.broadcast(cuts)).select(
        lowbest("recency_days", "r1", "r2").alias("r_score"),
        highbest("frequency", "f1", "f2").alias("f_score"),
        highbest("monetary", "m1", "m2").alias("m_score"),
        "monetary",
    )
    cents = F.floor(F.col("monetary") * 100.0 + 0.5).cast("bigint")
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        fix(
            (F.sum(cents).cast("bigint") / F.count(F.lit(1))) / 100.0, 4
        ).alias("avg_monetary"),
    )


@register(
    "event_interarrival_stats",
    oracle=f"""
    WITH seq AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY epoch_us(ts), event_id) AS gap_us
        FROM events
    )
    SELECT event_type,
           count(*) AS n_gaps,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us,
           {fix_sql("(CAST(sum(gap_us) AS BIGINT) / count(*)) / 1000000.0",
                    6)} AS mean_gap_s,
           {fix_sql("3600.0 / ((CAST(sum(gap_us) AS BIGINT) / count(*))"
                    " / 1000000.0)", 6)} AS rate_per_hour
    FROM seq WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
    doc="Per-stream inter-arrival statistics: consecutive gaps within "
    "each (user, event_type) stream reduced to per-type gap counts, "
    "min/max/mean gap and the implied hourly arrival rate — the "
    "Poisson-rate monitoring panel an event platform alerts on "
    "(a rate spike = incident or abuse; a stall = broken producer). "
    "Scale shape: ONE shuffle on (user_id, event_type) for the lag "
    "window (the event log's native bucketing), then a map-side-"
    "combined rollup to the type-cardinality frame. Gaps are exact "
    "bigint microsecond differences (timestamp-type-proof epoch "
    "helper), sums exact in any order; the two derived ratios are "
    "IEEE divisions quantized at 1e-6.",
    tags=("events", "window", "stats", "timeseries"),
)
def event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p4_mapreduce_spark.functions.deterministic import fix

    ev = load(spark, sf_dir, "events")
    us = epoch_micros(ev)
    w = Window.partitionBy("user_id", "event_type").orderBy(us, "event_id")
    seq = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    mean_gap = (
        F.sum("gap_us").cast("bigint") / F.count(F.lit(1))
    ) / 1000000.0
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
        fix(mean_gap, 6).alias("mean_gap_s"),
        fix(F.lit(3600.0) / mean_gap, 6).alias("rate_per_hour"),
    )


# ---------------------------------------------------------------------------
# SCD Type-2 dimension build: change-capture history from an event log
# ---------------------------------------------------------------------------


@register(
    "scd2_dimension_build",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type AS status, epoch_us(ts) AS ts_us,
               event_id,
               lag(event_type) OVER w AS prev_status
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
        SELECT user_id, status, ts_us, event_id
        FROM ordered
        WHERE prev_status IS NULL OR status <> prev_status
    )
    SELECT user_id, status,
           CAST(row_number() OVER w2 AS INTEGER) AS version,
           ts_us AS effective_from_us,
           lead(ts_us) OVER w2 AS effective_to_us,
           lead(ts_us) OVER w2 IS NULL AS is_current
    FROM changes
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    """,
    doc="Slowly-changing-dimension Type-2 build from a change log: "
    "collapse each user's event stream to STATUS TRANSITIONS (rows "
    "where event_type differs from the lag — consecutive repeats are "
    "not new versions), then stamp each version with its validity "
    "interval [effective_from, effective_to) via lead(), version "
    "numbers via row_number(), and an is_current flag on the open "
    "interval — the standard warehouse dimension-history shape that "
    "an as-of/range join then serves (asof_join_* are the lookup "
    "half; this is the build half). One shuffle on user_id serves "
    "the lag, the dedup filter, and both versioning windows (same "
    "partition key, Catalyst plans one Exchange); linear, "
    "skew-bounded by the busiest user. Timestamps ride epoch "
    "microseconds (both engines truncate parquet nanos identically).",
    tags=("events", "window", "cdc", "sql"),
)
def scd2_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load(spark, sf_dir, "events")
    ev = raw.select(
        "user_id",
        F.col("event_type").alias("status"),
        epoch_micros(raw).alias("ts_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes = (
        ev.withColumn("prev_status", F.lag("status").over(w))
        .where(
            F.col("prev_status").isNull()
            | (F.col("status") != F.col("prev_status"))
        )
        .select("user_id", "status", "ts_us", "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return changes.select(
        "user_id",
        "status",
        F.row_number().over(w2).alias("version"),
        F.col("ts_us").alias("effective_from_us"),
        F.lead("ts_us").over(w2).alias("effective_to_us"),
        F.lead("ts_us").over(w2).isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Interval union (gaps-and-islands over spans)
# ---------------------------------------------------------------------------

_SPAN_US = 30 * 60 * 1_000_000  # each event opens a 30-minute span


def interval_islands(spans: DataFrame) -> DataFrame:
    """Gaps-and-islands interval union: the shared kernel behind
    merge_event_intervals and the streaming twin
    (streaming/windows.streaming_interval_union).

    ``spans``: DataFrame[user_id, s, e, n] — weighted spans (``n`` =
    how many events the span already represents; raw events pass 1,
    the streaming carry passes an open island's accumulated count).
    Overlapping-or-touching spans per user merge into maximal islands
    via the running-max island detector; returns one row per island:
    (user_id, island_id 1-based per user in start order,
    span_start_us, span_end_us, n_events = sum(n)). Island boundaries
    and ids are independent of tie order among equal starts (a span
    tied on ``s`` always lands in the same island), so the (s, e, n)
    ordering is deterministic enough without a row-identity column.
    One shuffle on user_id serves both windows and the rollup;
    skew-bounded by the busiest user.
    """
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "n")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        F.max("e").over(w_prev) >= F.col("s"), 0
    ).otherwise(1)
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "n")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = spans.select(
        "user_id",
        "s",
        "e",
        "n",
        F.sum(new_island).over(w_run).cast("bigint").alias("island_id"),
    )
    return islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("span_start_us"),
        F.max("e").alias("span_end_us"),
        F.sum("n").cast("bigint").alias("n_events"),
    )


@register(
    "merge_event_intervals",
    oracle=f"""
    WITH spans AS (
        SELECT user_id, event_id,
               epoch_us(ts) AS s,
               epoch_us(ts) + {_SPAN_US} AS e
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, s, e,
               CASE WHEN max(e) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) >= s THEN 0 ELSE 1 END AS new_island
        FROM spans
    ),
    islands AS (
        SELECT user_id, s, e,
               CAST(sum(new_island) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island_id
        FROM flagged
    )
    SELECT user_id, island_id,
           min(s) AS span_start_us,
           max(e) AS span_end_us,
           count(*) AS n_events,
           max(e) - min(s) AS covered_us
    FROM islands GROUP BY 1, 2
    """,
    doc="Interval union (gaps-and-islands over SPANS): every event "
    "opens a 30-minute activity span; overlapping or touching spans "
    "per user merge into maximal islands, emitting each island's "
    "extent, event count, and covered time — the span-coverage "
    "primitive behind billing ('total active minutes'), device "
    "uptime, and GPU-utilization rollups, and the OVERLAP sibling of "
    "sessionize_events' point-gap islands (a span that starts inside "
    "an earlier span merges even when event TIMES are >30min apart). "
    "The island detector is the classic running-max trick: a span "
    "starts a new island iff it begins after the max end of ALL "
    "prior spans (not just the previous row — intervals can nest). "
    "Scale shape: one shuffle on user_id serves both windows and the "
    "rollup; linear, skew-bounded by the busiest user. All span "
    "math is exact integer micros.",
    tags=("events", "window", "aggregation", "sql"),
)
def merge_event_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load(spark, sf_dir, "events")
    spans = raw.select(
        "user_id",
        epoch_micros(raw).alias("s"),
        (epoch_micros(raw) + F.lit(_SPAN_US)).alias("e"),
        F.lit(1).cast("bigint").alias("n"),
    )
    return interval_islands(spans).select(
        "user_id",
        "island_id",
        "span_start_us",
        "span_end_us",
        "n_events",
        (F.col("span_end_us") - F.col("span_start_us")).alias("covered_us"),
    )


# ---------------------------------------------------------------------------
# Interval overlap self-join (co-presence) via coarse-bin bucketing
# ---------------------------------------------------------------------------

_OVERLAP_SPAN_US = 15 * 60 * 1_000_000  # each event opens a 15-minute span
_OVERLAP_BIN_US = 15 * 60 * 1_000_000  # equi-join bucket width

# Hot-bin pair-space salting (r11, the verdict's probe-then-cap ask).
# The bin equi-join's skew is OUTPUT-explosive: a globally-hot 15-min
# bin (a launch, an outage) holds k co-active sessions whose TRUE
# answer is ~k^2/2 pairs — the join partition's INPUT is k narrow rows,
# so AQE's input-size-based skew split never fires, and one task emits
# the entire k^2 pair stream (measured: see SCALE.md r11 hot-bin
# probe). Bins whose session count exceeds _HOT_BIN_CAP therefore get
# their PAIR SPACE partitioned: side A keeps salt sa=hash(island)%S
# replicated over all sb, side B keeps sb=hash(island)%S replicated
# over all sa, and (bin, sa, sb) joins — every pair still meets
# EXACTLY once (at (h(a), h(b))), so the result and the oracle are
# bit-identical, but a hot bin's output now spreads across S^2
# independent tasks. Cold bins pay nothing (salts pinned to 0, no
# replication); the hot-bin list is a map-side-combined count +
# broadcast, bounded above by total_bin_rows / _HOT_BIN_CAP keys.
_HOT_BIN_CAP = 2048
# r12 (verdict ask #3): salts scale with the MEASURED bin size instead
# of a fixed 8. ns = ceil(nb / _HOT_BIN_CAP) makes each (sa, sb) cell
# hold ~_HOT_BIN_CAP rows per side, i.e. ~_HOT_BIN_CAP^2 = 4.2M pairs
# per task REGARDLESS of how hot the bin is (a fixed salt count keeps
# pairs/task growing as nb^2/64 — stragglers return one order of
# magnitude up; the sqrt alternative still grows them linearly as
# nb*cap/2). Capped so a pathological bin cannot explode the
# replication volume (each side row is replicated ns times): at the
# cap, a bin >64*2048 = 131k sessions degrades gracefully to growing
# cells again — raise the cap alongside executor count at that scale.
_HOT_BIN_MAX_SALTS = 64
# r13 (verdict ask #7): the hot list is calendar-bounded TODAY (one
# row per >cap 15-min bin, so a year of data tops out ~35k rows), but
# nothing structurally asserted that — a future bin-width change could
# have turned hot.collect() into a silent driver OOM. The guard bounds
# the transfer in-plan (limit(cap+1) caps bytes shipped regardless of
# how many bins qualify) and falls back to the unsalted-but-correct
# AQE join above the cap, loudly: salting is result-identical pair-
# space reshaping, so correctness never depends on it.
_HOT_LIST_CAP = 100_000


@register(
    "interval_overlap_join",
    headline=True,
    oracle=f"""
    WITH spans AS (
        SELECT user_id, event_id,
               epoch_us(ts) AS s,
               epoch_us(ts) + {_OVERLAP_SPAN_US} AS e
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, s, e,
               CASE WHEN max(e) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) >= s THEN 0 ELSE 1 END AS new_island
        FROM spans
    ),
    islands AS (
        SELECT user_id, s, e,
               CAST(sum(new_island) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island_id
        FROM flagged
    ),
    sess AS (
        SELECT user_id, island_id, min(s) AS s, max(e) AS e
        FROM islands GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.user_id AS user_a, a.island_id AS island_a,
               b.user_id AS user_b, b.island_id AS island_b,
               least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
        FROM sess a JOIN sess b
          ON a.user_id < b.user_id AND a.s < b.e AND b.s < a.e
    )
    SELECT user_a, user_b,
           count(*) AS n_overlaps,
           CAST(sum(overlap_us) AS BIGINT) AS total_overlap_us,
           max(overlap_us) AS max_overlap_us
    FROM pairs GROUP BY 1, 2
    """,
    doc="Interval overlap SELF-join (user co-presence): per-user "
    "sessions (15-minute event spans merged into islands — the "
    "merge_event_intervals kernel) joined against every OTHER user's "
    "sessions on true interval overlap (a.s < b.e AND b.s < a.e), "
    "rolled up to per-user-pair co-presence counts and overlap time "
    "— the abuse-ring / collusion / co-editing signal, and the "
    "big-x-big interval join a streaming engine calls an interval "
    "join. The scale technique is the point: Spark plans a raw "
    "inequality-only join as BroadcastNestedLoopJoin (quadratic, "
    "driver-bounded) — instead each session EXPLODES into the "
    f"{_OVERLAP_BIN_US // 60_000_000}-minute epoch bins it covers "
    "(sequence(); overlapping intervals must share a bin — the "
    "pigeonhole argument MinHash banding makes, applied to time) and "
    "the join becomes a bin-keyed EQUI-join followed by the exact "
    "overlap predicate, with every pair hit unique by the first-"
    "shared-bin rule. Per-bin candidates are bounded by concurrently-"
    "active-users^2 per bin, not corpus^2 — and that residual "
    "quadratic is OUTPUT, not waste: k co-active sessions genuinely "
    "have ~k^2/2 overlapping pairs. r11 (the verdict's hot-bin "
    "probe): because the hot bin's join-partition INPUT is only k "
    "narrow rows, AQE's input-size-based skew split never fires and "
    "one task emitted the whole k^2 pair stream (planted probe, "
    "tools/skew_probe_overlap.py, broadcast off = the at-scale plan: "
    "one bin shared by 20% of 90k users -> 162M true pairs, the "
    "plain join's single hot task ran 164s against a 0.33s median; "
    "salted: 31s wall, 24s max task — 5.5x). Bins "
    f"over {_HOT_BIN_CAP} sessions now get PAIR-SPACE salting — "
    "(bin, hash(a)%ns, hash(b)%ns) join keys with ns sized to the "
    f"MEASURED bin (ceil(nb/{_HOT_BIN_CAP}), capped "
    f"{_HOT_BIN_MAX_SALTS}; r12 — a fixed salt count lets pairs/task "
    "grow quadratically again one order of magnitude up), each side "
    "replicated only on hot bins — so every pair still meets exactly "
    "once (result and oracle bit-identical) but a hot bin's output "
    f"spreads across ns^2 tasks of ~{_HOT_BIN_CAP}^2 pairs each; "
    "cold bins pay nothing. The islands windows are busiest-user "
    "bounded (merge_event_intervals' reviewed class). All span math "
    "exact integer micros. NOTE: building this DataFrame runs one "
    "eager Spark job (the hot-bin census the salt plan needs driver-"
    "side; bounded by _HOT_LIST_CAP in-plan, falling back to the "
    "unsalted result-identical join above it) — explain-only callers "
    "pay that job; overlap_pairs_rollup(skew_safe=False) skips it.",
    tags=("events", "join", "window", "aggregation"),
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load(spark, sf_dir, "events")
    spans = raw.select(
        "user_id",
        epoch_micros(raw).alias("s"),
        (epoch_micros(raw) + F.lit(_OVERLAP_SPAN_US)).alias("e"),
        F.lit(1).cast("bigint").alias("n"),
    )
    sess = interval_islands(spans).select(
        "user_id",
        "island_id",
        F.col("span_start_us").alias("s"),
        F.col("span_end_us").alias("e"),
    )
    return overlap_pairs_rollup(sess)




def overlap_pairs_rollup(sess: DataFrame, skew_safe: bool = True) -> DataFrame:
    """Per-user-pair co-presence rollup over a session frame
    ``(user_id, island_id, s, e)`` — the kernel shared by the batch
    interval_overlap_join and the streaming-state twin."""
    binned = sess.select(
        "user_id",
        "island_id",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.expr(f"s div {_OVERLAP_BIN_US}"),
                F.expr(f"(e - 1) div {_OVERLAP_BIN_US}"),
            )
        ).alias("bin"),
    )
    # One lazy localCheckpoint feeds all three readers (hot-bin sizes
    # + both join sides): the frame is SESSION-OUTPUT-proportional
    # (islands after merging, not raw events), and without the
    # truncation even the pre-r11 self-join computed the islands
    # windows twice — the salting's size pre-agg would have made it
    # three times (measured +21% wall at sf0.1; the checkpoint claws
    # that back to +10% over the r10 shape — the residual is the
    # priced cost of the skew insurance, see SCALE.md r11).
    binned = stage_ck(binned)
    salt_keys = []
    if skew_safe:
        sizes = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("nb"))
        # per-bin salt count, size-adaptive (see _HOT_BIN_MAX_SALTS
        # note); cold bins miss the broadcast join -> ns = 1, where
        # pmod(h, 1) = 0 and sequence(0, 0) = [0] reproduce the
        # unsalted keys with NO replication — one code path, no
        # when/otherwise forks
        hot = sizes.where(F.col("nb") > _HOT_BIN_CAP).select(
            "bin",
            F.least(
                F.ceil(F.col("nb") / F.lit(_HOT_BIN_CAP)),
                F.lit(_HOT_BIN_MAX_SALTS),
            ).cast("int").alias("_ns"),
        )
        # r12 (the 2-plant-rate probe's lesson): salting alone does NOT
        # flatten max-task — the pair join's INPUT is tiny, so AQE's
        # input-size-based coalescing fused the ns^2 salt cells back
        # into ~a dozen fat tasks (measured: 20% plant 25.6s max task,
        # 40% plant 100.2s — quadratic again, one layer up). The fix
        # needs the join's PHYSICAL partition count pinned, which
        # requires knowing the cell count driver-side: collect the hot
        # list (the SAME bounded frame the broadcast join ships to
        # every executor anyway — rows/cap entries max), size
        # P ~ total cells, and user-repartition BOTH sides by the join
        # keys — user-specified counts are exempt from AQE coalescing.
        # No hot bins (the common case) -> plain AQE join, zero
        # scaffolding; the collect doubles as the lazy checkpoint's
        # materialization so later readers reuse it either way.
        # NOTE (r12 ADVICE): this collect runs an eager Spark job at
        # DataFrame-CONSTRUCTION time (explain-only callers pay it,
        # and the salt plan freezes to build-time data) — accepted
        # because AQE coalescing can only be beaten by a user-pinned
        # partition count, which needs the cell total driver-side.
        # limit(cap+1) bounds the transfer structurally (see
        # _HOT_LIST_CAP); pass skew_safe=False to skip the job.
        hot_rows = hot.limit(_HOT_LIST_CAP + 1).collect()
        if len(hot_rows) > _HOT_LIST_CAP:
            import warnings

            warnings.warn(
                f"overlap_pairs_rollup: hot-bin list exceeds "
                f"_HOT_LIST_CAP={_HOT_LIST_CAP} rows — falling back to "
                "the unsalted AQE join (results identical; stragglers "
                "possible). Widen _OVERLAP_BIN_US or raise the cap "
                "with executor memory.",
                RuntimeWarning,
                stacklevel=2,
            )
            hot_rows = []
        if hot_rows:
            total_cells = sum(int(r["_ns"]) ** 2 for r in hot_rows)
            # 2x the cell count: with P == cells, balls-in-bins hash
            # collisions stack 2-4 cells on one partition (measured
            # 16.6s max vs 1.5s med at the 40% plant); doubling P
            # halves the expected max multiplicity for pennies (empty
            # tasks are ~ms)
            pair_parts = int(min(max(2 * total_cells, 64), 8192))
            bh = binned.join(F.broadcast(hot), "bin", "left")
            ns = F.coalesce(F.col("_ns"), F.lit(1))
            slt = F.pmod(F.hash("user_id", "island_id"), ns)
            rep = F.sequence(F.lit(0), ns - F.lit(1))
            cols = ["user_id", "island_id", "s", "e", "bin"]
            a = bh.select(
                *cols, slt.alias("sa"), F.explode(rep).alias("sb")
            ).repartition(pair_parts, "bin", "sa", "sb").alias("a")
            b = bh.select(
                *cols, F.explode(rep).alias("sa"), slt.alias("sb")
            ).repartition(pair_parts, "bin", "sa", "sb").alias("b")
            salt_keys = [
                F.col("a.sa") == F.col("b.sa"),
                F.col("a.sb") == F.col("b.sb"),
            ]
        else:
            # r13 (guide §2.5, one level below the hot-bin case): with
            # no hot bins the pair join is a broadcast hash join whose
            # PROBE side streams with the checkpointed session frame's
            # partition count — at local SF that frame arrives as ONE
            # split, so the whole output-explosive pair expansion +
            # partial rollup ran as a single 2.2s task (max_task ==
            # med_task across three sessions; the explosion is in the
            # OUTPUT, so AQE's input-byte sizing cannot see it). The
            # hot-list collect above already materialized the
            # checkpoint, so probing the partition count costs no
            # extra job; spread the probe side to the session's
            # parallelism only when it sits below it — a no-op at the
            # 100 TB steady state, where the islands shuffle already
            # leaves a full round of partitions.
            # The partition probe needs `binned` to be a checkpoint:
            # on a raw plan the .rdd conversion would finalize its
            # adaptive plan (and can execute upstream shuffle stages an
            # extra time). It always is one: stage_ck(binned) above
            # gets no src_bytes, so the corpus-size gate never passes
            # it through.
            par = binned.sparkSession.sparkContext.defaultParallelism
            probe = binned
            if binned.rdd.getNumPartitions() < par:
                probe = binned.repartition(par)
            a = probe.alias("a")
            b = binned.alias("b")
    else:
        a = binned.alias("a")
        b = binned.alias("b")
    # First-shared-bin rule (r10 perf fix): an overlapping pair shares
    # every bin its intersection covers, so the raw equi-join finds it
    # k times and a 3M-row distinct() paid for the dedup. The
    # intersection's FIRST bin — greatest(s_a, s_b) div BIN — is covered
    # by BOTH intervals whenever they overlap, so requiring the match
    # to happen exactly there makes every pair hit unique BY
    # CONSTRUCTION and deletes the dedup shuffle outright (measured
    # in-session A/B at sf0.1, min-of-2 after warmup: 5.03s -> 2.32s,
    # -54%).
    cond = (
        (F.col("a.bin") == F.col("b.bin"))
        & (F.col("a.user_id") < F.col("b.user_id"))
        & (F.col("a.s") < F.col("b.e"))
        & (F.col("b.s") < F.col("a.e"))
        & (
            F.col("a.bin")
            == F.expr(f"greatest(a.s, b.s) div {_OVERLAP_BIN_US}")
        )
    )
    for k in salt_keys:
        cond = cond & k
    hits = a.join(b, cond).select(
        F.col("a.user_id").alias("user_a"),
        F.col("b.user_id").alias("user_b"),
        (
            F.least(F.col("a.e"), F.col("b.e"))
            - F.greatest(F.col("a.s"), F.col("b.s"))
        ).alias("overlap_us"),
    )
    return hits.groupBy("user_a", "user_b").agg(
        F.count(F.lit(1)).alias("n_overlaps"),
        F.sum("overlap_us").cast("bigint").alias("total_overlap_us"),
        F.max("overlap_us").alias("max_overlap_us"),
    )


# ---------------------------------------------------------------------------
# r10: funnel conversion-latency percentiles per cohort week
# ---------------------------------------------------------------------------

_WEEK_US = 7 * 86400 * 1_000_000


@register(
    "funnel_latency_quantiles",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS t_purchase
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT epoch_us(t_view) // {_WEEK_US} AS cohort_week,
               (epoch_us(t_purchase) - epoch_us(t_view)) // 1000000
                   AS latency_s
        FROM per_user
        WHERE t_view IS NOT NULL AND t_purchase >= t_view
    )
    SELECT cohort_week,
           CAST(count(*) AS BIGINT) AS n_converting,
           {{p50}} AS p50_latency_s,
           {{p90}} AS p90_latency_s,
           max(latency_s) AS max_latency_s
    FROM conv GROUP BY cohort_week
    """.format(
        p50="floor((quantile_cont(latency_s, 0.50)) * 10.0 + 0.5) / 10.0",
        p90="floor((quantile_cont(latency_s, 0.90)) * 10.0 + 0.5) / 10.0",
    ),
    doc="Conversion-latency distribution per first-view cohort week: "
    "each user's first view paired with their first purchase at or "
    "after it (funnel_conversion's ordering convention), latency in "
    "whole seconds, rolled to per-cohort count / exact interpolated "
    "p50 + p90 / max — the time-to-convert panel product analytics "
    "reads next to the funnel counts. Determinism: latencies are "
    "exact integer seconds (micros subtraction + floor-div), and at "
    "p in {0.5, 0.9} the interpolated true value over integers is an "
    "exact multiple of 0.1 — so floor-normalizing at d=1 absorbs the "
    "engines' interpolation-formula difference with ~12 orders of "
    "margin (the grouped_exact_percentiles recipe on integer data). "
    "Scale shape: one user_id-keyed aggregation reduces the corpus "
    "to a user-sized frame; the exact percentile sorts only the "
    "converting-user frame per cohort (bounded groups); at 100 TB "
    "swap percentile() for approx_percentile, same columns.",
    tags=("events", "aggregation", "stats"),
)
def funnel_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    us = epoch_micros(ev)
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("v"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p"),
    )
    conv = per_user.where(
        F.col("v").isNotNull() & (F.col("p") >= F.col("v"))
    ).select(
        F.expr(f"v div {_WEEK_US}").alias("cohort_week"),
        F.expr("(p - v) div 1000000").alias("latency_s"),
    )

    def q(p: float, alias: str):
        return (
            F.floor(F.percentile("latency_s", F.lit(p)) * 10.0 + F.lit(0.5))
            / 10.0
        ).alias(alias)

    return conv.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converting"),
        q(0.50, "p50_latency_s"),
        q(0.90, "p90_latency_s"),
        F.max("latency_s").alias("max_latency_s"),
    )


# ---------------------------------------------------------------------------
# r11: event-type Markov transition matrix (behavioral grammar)
# ---------------------------------------------------------------------------


@register(
    "event_markov_transitions",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    t AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               count(*) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT from_type, sum(n_transitions) AS n_from FROM t GROUP BY 1
    )
    SELECT t.from_type, t.to_type,
           CAST(t.n_transitions AS BIGINT) AS n_transitions,
           {fix_sql(
               "CAST(t.n_transitions AS DOUBLE) / CAST(tot.n_from AS DOUBLE)",
               6)} AS prob
    FROM t JOIN tot USING (from_type)
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences — the behavioral GRAMMAR the funnel operators read one "
    "path of: for every (from_type -> to_type) adjacency in a user's "
    "time-ordered stream, the transition count and the row-normalized "
    "probability P(to|from). Product reads: dead-end states (rows "
    "whose mass self-loops or exits), the purchase path's actual "
    "feeder states, anomalous bot loops (view->view at p~1). Scale "
    "shape: ONE per-user lag window (partition keys are user ids — "
    "busiest-user bounded, the sessionize class, pin-reviewed), then "
    "a map-side-combined count over the (|event_types|^2)-bounded "
    "transition grid and a broadcast row-total join — shuffle volume "
    "collapses to the type-pair grid after the window. Determinism: "
    "ties inside a user's stream order by (ts, event_id); counts are "
    "exact integers and the single probability division is one IEEE "
    "op on identical inputs, floor-normalized at 1e-6.",
    tags=("events", "window", "aggregation", "stats"),
)
def event_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    t = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    tot = t.groupBy("from_type").agg(
        F.sum("n_transitions").alias("n_from")
    )
    return t.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        F.col("n_transitions").cast("bigint").alias("n_transitions"),
        fix(
            F.col("n_transitions").cast("double")
            / F.col("n_from").cast("double"),
            6,
        ).alias("prob"),
    )
