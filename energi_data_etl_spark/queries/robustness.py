"""Null-safety, percentile, collection-aggregate, and regex surfaces —
rounding out F8/F9/A5/F2 (SURVEY.md §2.8/§2.3) with the error-tolerant
(`try_*`) and order-statistic functions a production pipeline leans on.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..sources.tables import load_table
from .catalog import query


@query(
    "null_safety_surface",
    tier="F8+F9 (try_cast/try_divide, ifnull/nullif — error-tolerant exprs)",
    oracle="""
        SELECT o_orderkey,
               TRY_CAST(o_orderpriority AS INT)                                  AS prio_as_int,
               TRY_CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT)                 AS prio_num,
               CASE WHEN MOD(o_orderkey, 7) = 0 THEN NULL
                    ELSE ROUND(o_totalprice / MOD(o_orderkey, 7), 4) END         AS price_per,
               IFNULL(NULLIF(o_orderstatus, 'O'), 'open')                        AS status_or_open
        FROM orders
        WHERE o_orderkey < 300
    """,
)
def null_safety_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI mode makes bad casts/zero-division ERRORS (the right default
    at scale: fail loud); try_* opt back into null-tolerance per
    expression — certified against DuckDB's TRY_CAST/CASE forms."""
    o = load_table(spark, "orders", sf_dir)
    denom = F.col("o_orderkey") % 7
    return o.filter(F.col("o_orderkey") < 300).select(
        "o_orderkey",
        F.try_to_number("o_orderpriority", F.lit("999")).cast("int").alias("prio_as_int"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("prio_num"),
        F.round(F.try_divide(F.col("o_totalprice"), F.when(denom == 0, None).otherwise(denom)), 4).alias("price_per"),
        F.ifnull(F.nullif("o_orderstatus", F.lit("O")), F.lit("open")).alias("status_or_open"),
    )


@query(
    "percentile_surface",
    tier="A5 (exact interpolated percentiles / order statistics)",
    oracle="""
        SELECT l_returnflag,
               ROUND(QUANTILE_CONT(l_extendedprice, 0.25), 4) AS p25,
               ROUND(QUANTILE_CONT(l_extendedprice, 0.50), 4) AS p50,
               ROUND(QUANTILE_CONT(l_extendedprice, 0.75), 4) AS p75,
               ROUND(QUANTILE_CONT(l_extendedprice, 0.99), 4) AS p99
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def percentile_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles (Spark `percentile` ==
    DuckDB `quantile_cont`), computed as the HISTOGRAM + cumulative
    formulation rather than the buffering percentile aggregate — the
    percentile_disc_surface plan (r12) extended to interpolation
    (r13, kills the last 'weak' scale row): distinct (flag, value)
    counts (map-side combined) → one cumulative window → for each p
    two exact rank picks lo = value@floor(r), hi = value@ceil(r) with
    the 0-based position r = p·(n−1), then the convex interpolation
    lo·(1−fr) + hi·fr. That exact expression form is what Spark's
    native percentile evaluates (the algebraically-equal
    lo + (hi−lo)·fr differs by an ulp and fails a bit compare) and
    what DuckDB's QUANTILE_CONT produces — verified BIT-IDENTICAL to
    both engines' native aggregates at all three fixture SFs
    (tests/test_relational_extras.py pins the Spark side per run).

    Unlike the buffering aggregate — whose final merge holds and sorts
    every group value on one task (the r12 probe's 7.5 s residual at
    5M even after the array-agg fix) — every stage here is
    partial-aggregatable and spillable: the heaviest shuffle carries
    distinct (flag, value) pairs, the window sorts distinct values
    (not rows), and the picks are plain conditional MINs. 1M→5M probe:
    see BASELINE.md's round-13 probes. At 100 TB the sketch
    (approx_percentile_sketch) remains the cheap path; this is the
    exact path that no longer needs a single-task buffer."""
    li = load_table(spark, "lineitem", sf_dir).select("l_returnflag", "l_extendedprice")
    # keyed repartition at session shuffle parallelism (the r13
    # percentile_disc lesson: never a fixed count) + localCheckpoint:
    # hist feeds the cumulative window AND the per-flag total
    hist = (
        li.repartition("l_returnflag", "l_extendedprice")
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum", F.sum("c").over(wcum))
    n = hist.groupBy("l_returnflag").agg(F.sum("c").alias("n"))
    j = cum.join(F.broadcast(n), "l_returnflag")
    pcts = [(0.25, "p25"), (0.50, "p50"), (0.75, "p75"), (0.99, "p99")]

    def rank(p: float):  # 0-based interpolation position p·(n−1)
        return F.lit(p) * (F.col("n") - 1).cast("double")

    aggs = [F.first("n").alias("n")]
    for p, name in pcts:
        aggs += [
            F.min(
                F.when(F.col("cum") >= F.floor(rank(p)).cast("long") + 1, F.col("l_extendedprice"))
            ).alias(f"__lo_{name}"),
            F.min(
                F.when(F.col("cum") >= F.ceil(rank(p)).cast("long") + 1, F.col("l_extendedprice"))
            ).alias(f"__hi_{name}"),
        ]
    picked = j.groupBy("l_returnflag").agg(*aggs)

    def interp(p: float, name: str):
        fr = rank(p) - F.floor(rank(p)).cast("double")
        return F.round(
            F.col(f"__lo_{name}") * (F.lit(1.0) - fr) + F.col(f"__hi_{name}") * fr, 4
        ).alias(name)

    return picked.select("l_returnflag", *[interp(p, name) for p, name in pcts])


@query(
    "approx_percentile_sketch",
    tier="A6 (KLL/GK percentile sketch — the 100 TB path)",
    oracle="""
        SELECT l_returnflag,
               ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS p50_exact,
               ABS(APPROX_QUANTILE(l_extendedprice, 0.5) - QUANTILE_CONT(l_extendedprice, 0.5))
                   <= 0.01 * QUANTILE_CONT(l_extendedprice, 0.5) AS within_tol
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def approx_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each engine runs its OWN sketch (Spark GK, DuckDB t-digest) —
    raw sketch outputs are engine-specific, so the comparable surface is
    the exact p50 plus a 1%-relative tolerance verdict that must be true
    on both sides. A sketch drifting out of band fails the hash compare.

    The exact p50 is the CERTIFICATION artifact (the approx_count_distinct
    pattern): the production path is the mergeable sketch alone — exact
    percentile buffers each group's full value list on one final task
    and cannot run at 100 TB. The repartition spreads the value-buffering
    partials across the cluster (the percentile_surface fix; the fixture
    parquet is single-row-group, so without it the whole scan+partial is
    ONE task — r12 probe: 1M→5M ran 5.68× before, the exact-merge wave
    dominating)."""
    li = load_table(spark, "lineitem", sf_dir).select("l_returnflag", "l_extendedprice")
    li = li.repartition(spark.sparkContext.defaultParallelism)
    agg = li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("p50_approx"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("p50_exact"),
    )
    return agg.select(
        "l_returnflag",
        F.round("p50_exact", 4).alias("p50_exact"),
        (F.abs(F.col("p50_approx") - F.col("p50_exact")) <= 0.01 * F.col("p50_exact")).alias("within_tol"),
    )


@query(
    "collect_aggregates",
    tier="A5+F6 (collect_set/collect_list → sorted arrays)",
    oracle="""
        SELECT c_nationkey,
               ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT c_mktsegment)), ',') AS segments,
               CAST(LEN(LIST(DISTINCT c_mktsegment)) AS BIGINT) AS n_segments,
               COUNT(*) AS n_customers
        FROM customer
        WHERE c_nationkey < 5
        GROUP BY c_nationkey
    """,
)
def collect_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-building aggregates; results sorted then comma-joined so the
    set semantics compare deterministically across engines (raw array
    columns break the driver canonicalizer's sort+hash)."""
    c = load_table(spark, "customer", sf_dir)
    return (
        c.filter(F.col("c_nationkey") < 5)
        .groupBy("c_nationkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("c_mktsegment"))).alias("segments"),
            F.size(F.collect_set("c_mktsegment")).cast("long").alias("n_segments"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@query(
    "data_quality_report",
    tier="engine utility (declarative validation: nulls/ranges/sets/FK in one pass)",
    oracle="""
        SELECT 'orderdate_in_range' AS rule, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN o_orderdate IS NULL
                              OR CAST(o_orderdate AS DATE) < DATE '1990-01-01'
                              OR CAST(o_orderdate AS DATE) > DATE '2005-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        FROM orders
        UNION ALL
        SELECT 'totalprice_positive', COUNT(*),
               CAST(SUM(CASE WHEN o_totalprice IS NULL OR NOT (o_totalprice > 0) THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'status_in_domain', COUNT(*),
               CAST(SUM(CASE WHEN o_orderstatus IS NULL
                              OR o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'custkey_fk_valid', COUNT(*),
               CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
    """,
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations over orders: range / positivity / domain
    rules in one aggregate pass (operators/validation.py) + FK
    integrity via broadcast anti-join — the validation suite an LLM
    training-data pipeline runs before every ingest."""
    from ..operators.validation import Rule, validate

    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    od = F.to_date("o_orderdate")
    report = validate(
        o,
        [
            Rule("orderdate_in_range", od.between(F.lit("1990-01-01").cast("date"), F.lit("2005-01-01").cast("date"))),
            Rule("totalprice_positive", F.col("o_totalprice") > 0),
            Rule("status_in_domain", F.col("o_orderstatus").isin("F", "O", "P")),
        ],
    ).select("rule", "n_rows", "n_violations")
    # FK integrity folded into the same lazy plan: broadcast left join +
    # conditional sum (no eager .count() jobs — the whole report is one
    # collect at the consumer)
    fk_row = (
        o.select("o_custkey")
        .join(F.broadcast(c.select("c_custkey")), F.col("o_custkey") == F.col("c_custkey"), "left")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).cast("long").alias("n_violations"),
        )
        .select(F.lit("custkey_fk_valid").alias("rule"), "n_rows", "n_violations")
    )
    return report.unionByName(fk_row)


@query(
    "regex_surface",
    tier="F2 (regexp_replace/extract_all/count, rlike)",
    oracle="""
        SELECT p_partkey,
               REGEXP_REPLACE(p_brand, '[0-9]+', '#', 'g')                     AS brand_masked,
               CAST(LEN(REGEXP_EXTRACT_ALL(p_name, '[aeiou]')) AS BIGINT)      AS n_vowels,
               REGEXP_MATCHES(p_type, '^(ECONOMY|PROMO)')                      AS is_cheap_tier,
               REGEXP_EXTRACT(p_name, '([a-z]+)$', 1)                          AS last_word
        FROM part
        WHERE p_partkey < 200
    """,
)
def regex_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex expression family (patterns kept in the Java∩RE2 common
    subset so both engines agree)."""
    p = load_table(spark, "part", sf_dir)
    return p.filter(F.col("p_partkey") < 200).select(
        "p_partkey",
        F.regexp_replace("p_brand", "[0-9]+", "#").alias("brand_masked"),
        F.regexp_count("p_name", F.lit("[aeiou]")).cast("long").alias("n_vowels"),
        F.col("p_type").rlike("^(ECONOMY|PROMO)").alias("is_cheap_tier"),
        F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_word"),
    )


@query(
    "window_distribution_surface",
    tier="W1+ (ntile / percent_rank / cume_dist distribution windows)",
    oracle="""
        SELECT c_custkey, c_mktsegment,
               NTILE(4) OVER w AS quartile,
               ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
               ROUND(CUME_DIST() OVER w, 6) AS cum_dist
        FROM customer
        WHERE c_custkey < 300
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
    """,
)
def window_distribution_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: quartile bucketing and the two
    normalized-rank forms. The order key is made total (acctbal then
    custkey) so ntile's bucket boundaries are deterministic across
    engines."""
    from pyspark.sql import Window

    c = load_table(spark, "customer", sf_dir).filter(F.col("c_custkey") < 300)
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
    )


@query(
    "sort_nulls_policy",
    tier="§2.6 (explicit NULLS FIRST/LAST ordering policy)",
    oracle="""
        SELECT doc_id, lang,
               CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END AS maybe_chars,
               ROW_NUMBER() OVER (ORDER BY (CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END)
                                  DESC NULLS LAST, doc_id ASC) AS rnk
        FROM documents
        WHERE doc_id < 200
    """,
)
def sort_nulls_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL placement made EXPLICIT on both engines: Spark defaults to
    NULLS LAST on DESC while DuckDB defaults to NULLS LAST only since
    1.x and SQL engines disagree in general — any ordering consumed
    downstream (ranks, limits) must spell the policy out. The rank is
    computed over (maybe-null DESC NULLS LAST, id) so the output is a
    total deterministic order on both sides."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 200)
    maybe = F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(F.col("n_chars"))
    w = Window.orderBy(maybe.desc_nulls_last(), F.col("doc_id").asc())
    return d.select(
        "doc_id",
        "lang",
        maybe.alias("maybe_chars"),
        F.row_number().over(w).alias("rnk"),
    )


@query(
    "regression_aggregates",
    tier="A5+ (bivariate statistical aggregates: corr/covar/regr family)",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               ROUND(CORR(value, EXTRACT(HOUR FROM ts)), 6)        AS corr_vh,
               ROUND(COVAR_SAMP(value, EXTRACT(HOUR FROM ts)), 6)  AS covar_vh,
               ROUND(REGR_SLOPE(value, EXTRACT(HOUR FROM ts)), 6)  AS slope,
               ROUND(REGR_INTERCEPT(value, EXTRACT(HOUR FROM ts)), 6) AS intercept,
               ROUND(REGR_R2(value, EXTRACT(HOUR FROM ts)), 6)     AS r2
        FROM events
        GROUP BY event_type
    """,
)
def regression_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics in ONE distributed pass per group (the
    regr_* family maintains (n, Σx, Σy, Σxy, Σx², Σy²) partials —
    map-side combinable, same scale shape as avg). Fits value against
    hour-of-day per event type; 6dp rounding absorbs summation-order
    ulps (both engines accumulate doubles in different orders)."""
    ev = load_table(spark, "events", sf_dir)
    hour = F.hour("ts").cast("double")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr("value", hour), 6).alias("corr_vh"),
        F.round(F.covar_samp("value", hour), 6).alias("covar_vh"),
        F.round(F.regr_slope(F.col("value"), hour), 6).alias("slope"),
        F.round(F.regr_intercept(F.col("value"), hour), 6).alias("intercept"),
        F.round(F.regr_r2(F.col("value"), hour), 6).alias("r2"),
    )


@query(
    "timezone_conversion",
    tier="F1+ (cross-timezone wall-clock conversion from naive-UTC)",
    oracle="""
        SELECT event_id,
               STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS utc_wall,
               STRFTIME(timezone('America/New_York', timezone('UTC', ts)),
                        '%Y-%m-%d %H:%M:%S') AS ny_wall,
               CAST(EXTRACT(HOUR FROM timezone('Europe/Stockholm', timezone('UTC', ts))) AS INT) AS sthlm_hour
        FROM events
        WHERE event_id < 200
    """,
)
def timezone_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts is naive UTC (timestamp_ntz); converting to a zone's
    wall clock is interpret-as-UTC → project-to-zone on BOTH engines
    (Spark convert_timezone(src, dst, ntz); DuckDB timezone(dst,
    timezone('UTC', ts))) — the reference's zone-local prices
    (energy_etl.py:19 'SE' zones) live on exactly this conversion. Both
    engines use the IANA tzdb so January 2024 offsets agree (EST/CET,
    no DST edge in-range; sub-second digits dropped from the formatted
    output to keep the compare about the offsets)."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("event_id") < 200)
    ny = F.convert_timezone(F.lit("UTC"), F.lit("America/New_York"), F.col("ts"))
    sthlm = F.convert_timezone(F.lit("UTC"), F.lit("Europe/Stockholm"), F.col("ts"))
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("utc_wall"),
        F.date_format(ny, "yyyy-MM-dd HH:mm:ss").alias("ny_wall"),
        F.hour(sthlm).cast("int").alias("sthlm_hour"),
    )


@query(
    "recursive_cte_hierarchy",
    tier="§3 planner (WITH RECURSIVE: iterative transitive closure)",
    oracle="""
        WITH RECURSIVE tree AS (
            SELECT c_custkey AS k, 0 AS depth FROM customer WHERE c_custkey = 1
            UNION ALL
            SELECT c.c_custkey, t.depth + 1
            FROM customer c JOIN tree t ON c.c_custkey // 2 = t.k
        )
        SELECT depth,
               COUNT(*) AS n_nodes,
               MIN(k) AS min_key,
               MAX(k) AS max_key
        FROM tree GROUP BY depth
    """,
)
def recursive_cte_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4.x) walking the implicit binary tree
    parent = custkey div 2 from the root — per-level node counts. Each
    recursion step is one distributed join of the frontier against the
    base table (the same iterate-until-empty shape as dedup_clusters'
    label propagation, but planner-managed). DuckDB's `//` and Spark's
    `div` are both exact integer floor-division."""
    load_table(spark, "customer", sf_dir).createOrReplaceTempView("customer_rcte")
    return spark.sql(
        """
        WITH RECURSIVE tree AS (
            SELECT c_custkey AS k, 0 AS depth FROM customer_rcte WHERE c_custkey = 1
            UNION ALL
            SELECT c.c_custkey, t.depth + 1
            FROM customer_rcte c JOIN tree t ON c.c_custkey div 2 = t.k
        )
        SELECT depth,
               COUNT(*) AS n_nodes,
               MIN(k) AS min_key,
               MAX(k) AS max_key
        FROM tree GROUP BY depth
        """
    )


@query(
    "moment_statistics",
    tier="A5+ (higher statistical moments: stddev both flavors, skewness, kurtosis)",
    oracle="""
        -- Spark's skewness/kurtosis are POPULATION moments: kurtosis
        -- maps to DuckDB KURTOSIS_POP directly (verified bit-close,
        -- ~1e-12); DuckDB's skewness is the SAMPLE estimator, so the
        -- population form is re-derived two-pass (m3 / m2^1.5) — the
        -- same mathematical quantity as Spark's one-pass moment
        -- formula, ROUND(6) absorbing the float-path difference.
        WITH mu AS (
            SELECT event_type, AVG(value) AS m FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               COUNT(*) AS n,
               ROUND(STDDEV_SAMP(e.value), 6) AS sd_samp,
               ROUND(STDDEV_POP(e.value), 6) AS sd_pop,
               ROUND(AVG(POW(e.value - mu.m, 3)) / POW(AVG(POW(e.value - mu.m, 2)), 1.5), 6) AS skew_pop,
               ROUND(KURTOSIS_POP(e.value), 6) AS kurt_pop
        FROM events e JOIN mu ON e.event_type = mu.event_type
        GROUP BY e.event_type
    """,
)
def moment_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the statistical-aggregate surface beyond
    `regression_aggregates` (corr/covar/regr): per-type standard
    deviation in both sample and population flavors, plus the third
    and fourth standardized moments (skewness, excess kurtosis) — the
    distribution-shape screens a data-quality pass runs before
    assuming normality (z-score screens, SPC limits). All four are
    single-pass JVM aggregates in one partial-aggregated groupBy; the
    oracle re-derives population skewness two-pass since DuckDB only
    ships the sample estimator."""
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.stddev_samp("value"), 6).alias("sd_samp"),
        F.round(F.stddev_pop("value"), 6).alias("sd_pop"),
        F.round(F.skewness("value"), 6).alias("skew_pop"),
        F.round(F.kurtosis("value"), 6).alias("kurt_pop"),
    )


@query(
    "argminmax_aggregates",
    tier="A5+ (bool_and/bool_or/count_if + max_by/min_by arg-extrema)",
    oracle="""
        SELECT o_orderstatus,
               COUNT(*) AS n,
               BOOL_AND(o_totalprice > 0) AS all_positive,
               BOOL_OR(o_orderpriority = '1-URGENT') AS any_urgent,
               CAST(SUM(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_large,
               -- arg-extrema keyed on the UNIQUE o_orderkey: ties are
               -- impossible, so max_by/arg_max agree deterministically
               ARG_MAX(o_orderpriority, o_orderkey) AS latest_priority,
               ARG_MIN(o_orderpriority, o_orderkey) AS first_priority
        FROM orders GROUP BY o_orderstatus
    """,
)
def argminmax_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boolean / conditional / arg-extremum aggregate family:
    bool_and == DuckDB BOOL_AND, count_if == the SUM(CASE) twin, and
    max_by/min_by == ARG_MAX/ARG_MIN — the 'attribute of the extreme
    row' aggregate that replaces a self-join-on-max at any scale (one
    partial-aggregated groupBy instead of agg + join back). The
    ordering key is the UNIQUE o_orderkey so the arg-extrema are
    deterministic cross-engine; max_by over a tied key is
    engine-arbitrary and must never be oracle-compared."""
    o = load_table(spark, "orders", sf_dir)
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.count_if(F.col("o_totalprice") > 200000).alias("n_large"),
        F.max_by("o_orderpriority", "o_orderkey").alias("latest_priority"),
        F.min_by("o_orderpriority", "o_orderkey").alias("first_priority"),
    )


@query(
    "percentile_disc_surface",
    tier="A5 (discrete order statistics: percentile_disc WITHIN GROUP)",
    oracle="""
        SELECT l_returnflag,
               QUANTILE_DISC(l_extendedprice, 0.25) AS p25,
               QUANTILE_DISC(l_extendedprice, 0.50) AS p50,
               QUANTILE_DISC(l_extendedprice, 0.99) AS p99
        FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_disc_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISCRETE order-statistic flavor (SQL-standard
    `percentile_disc(p) WITHIN GROUP (ORDER BY x)` == DuckDB
    QUANTILE_DISC): returns the smallest actual data value whose
    cumulative share reaches p — an element of the input, never an
    interpolation, so the comparison is bit-exact with NO rounding
    (unlike the interpolated `percentile_surface` twin).

    Computed as the HISTOGRAM + cumulative formulation rather than N
    scalar percentile_disc aggs: three WITHIN-GROUP aggs each buffer
    and sort the whole group independently (measured r12: 15.9 s at 5M
    rows); collapsing to distinct (flag, value) counts first (map-side
    combined), one cumulative window over the distinct values, and the
    exact-BIGINT pick min{value : cum*100 >= p*n} runs the same answer
    in 4.1 s — and unlike the buffering agg, every stage is
    spillable/partial-aggregatable at 100 TB. The discrete percentile
    IS min{v : cume_dist(v) >= p}, i.e. the ceil(p*n)-th smallest —
    cum*100 >= p100*n is that predicate with no float boundary at all
    (values verified tri-SF against both engines' native functions)."""
    li = load_table(spark, "lineitem", sf_dir).select("l_returnflag", "l_extendedprice")
    # keyed repartition at the session's shuffle parallelism: splits the
    # single-row-group fixture scan (the partial agg otherwise runs as
    # ONE task, r07 lesson) AND matches the groupBy's hash partitioning,
    # so Catalyst reuses it — one exchange total, never a fixed-count
    # parallelism ceiling at volume. localCheckpoint: hist feeds BOTH
    # the cumulative window and the per-flag total n — without it the
    # scan + groupBy recompute per consumer (r07 rule, ADVICE r12).
    hist = (
        li.repartition("l_returnflag", "l_extendedprice")
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum", F.sum("c").over(wcum))
    n = hist.groupBy("l_returnflag").agg(F.sum("c").alias("n"))
    j = cum.join(F.broadcast(n), "l_returnflag")
    pick = lambda p100: F.min(  # noqa: E731
        F.when(F.col("cum") * 100 >= F.lit(p100) * F.col("n"), F.col("l_extendedprice"))
    )
    return j.groupBy("l_returnflag").agg(
        pick(25).alias("p25"), pick(50).alias("p50"), pick(99).alias("p99")
    )


@query(
    "listagg_ordered",
    tier="F2+A5 (SQL-standard listagg WITHIN GROUP == STRING_AGG ORDER BY)",
    oracle="""
        SELECT n.n_regionkey AS region_key,
               r.r_name AS region_name,
               COUNT(*) AS n_nations,
               STRING_AGG(n.n_name, ',' ORDER BY n.n_name) AS nations_csv
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY n.n_regionkey, r.r_name
    """,
)
def listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (Spark 4's SQL-standard
    `listagg(x, d) WITHIN GROUP (ORDER BY x)` == DuckDB
    `STRING_AGG(x, d ORDER BY x)`): the report-formatting aggregate
    that is deterministic ONLY with the explicit WITHIN GROUP order —
    an unordered listagg is engine- and partition-arbitrary and must
    never be oracle-compared. Broadcast dim join + one
    partial-aggregated groupBy; string size grows with group
    cardinality, so at scale cap membership (slice a sorted
    collect_list) before formatting."""
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    j = n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    j.createOrReplaceTempView("__listagg_nr")
    return spark.sql(
        """
        SELECT n_regionkey AS region_key,
               r_name AS region_name,
               COUNT(*) AS n_nations,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations_csv
        FROM __listagg_nr GROUP BY n_regionkey, r_name
        """
    )


@query(
    "kll_quantile_sketch_audit",
    tier="A6 (KLL quantile sketch — mergeable order statistics, rank-error verdict)",
    oracle="""
        WITH med AS (
            SELECT l_returnflag,
                   QUANTILE_DISC(l_extendedprice, 0.5) AS exact_p50,
                   APPROX_QUANTILE(l_extendedprice, 0.5) AS a50
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT m.l_returnflag, m.exact_p50,
               FLOOR(SUM(CASE WHEN l.l_extendedprice <= m.a50 THEN 1 ELSE 0 END)
                     * 1000000.0 / COUNT(*)) / 1000000.0
                   BETWEEN 0.45 AND 0.55 AS within_tol
        FROM lineitem l JOIN med m USING (l_returnflag)
        GROUP BY m.l_returnflag, m.exact_p50
    """,
)
def kll_quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB quantile path: exact order statistics buffer whole
    groups, a KLL sketch is fixed-size and MERGEABLE (map-side partials
    combine like sums — the property exact percentiles lack). Each
    engine runs its OWN sketch (Spark KLL, DuckDB t-digest) — raw
    estimates are engine-specific, so the comparable surface is the
    bit-exact discrete median plus a rank-error verdict: the sketch's
    median estimate must sit within ±5 rank-percentage-points of the
    true median (KLL k=200 guarantees ~1.65% rank error at 99%
    confidence, so a healthy sketch passes with wide margin and a
    drifting one fails the hash compare on both engines).

    Plan (rewritten r15 — the stale-tier probe measured the original
    percentile_disc formulation 23.8× at 5× data, 42.6 s at 5M rows):
    the exact p50 comes from the HISTOGRAM + cumulative pick of
    percentile_disc_surface (min{v : cum·100 ≥ 50·n} — bit-identical
    to percentile_disc(0.5), exact-BIGINT predicate, every stage
    partial-aggregatable) instead of a WITHIN-GROUP agg that buffers
    and sorts each full group in one reducer; the rank-error audit
    reuses the SAME histogram (Σc over values ≤ a50 == the row count
    the oracle computes) instead of a second full-table pass. Only the
    mergeable KLL agg still reads raw rows — by definition."""
    li = load_table(spark, "lineitem", sf_dir).select("l_returnflag", "l_extendedprice")
    li.repartition(spark.sparkContext.defaultParallelism).createOrReplaceTempView(
        "__kll_lineitem"
    )
    sketch = spark.sql(
        """
        SELECT l_returnflag,
               kll_sketch_get_quantile_double(kll_sketch_agg_double(l_extendedprice), 0.5) AS a50
        FROM __kll_lineitem GROUP BY l_returnflag
        """
    )
    hist = (
        li.repartition("l_returnflag", "l_extendedprice")
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)  # feeds cum window, n, and the audit
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum", F.sum("c").over(wcum))
    n = hist.groupBy("l_returnflag").agg(F.sum("c").alias("n"))
    exact = (
        cum.join(F.broadcast(n), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.min(
                F.when(F.col("cum") * 100 >= F.lit(50) * F.col("n"), F.col("l_extendedprice"))
            ).alias("exact_p50"),
            F.first("n").alias("__n"),
        )
    )
    med = exact.join(F.broadcast(sketch), "l_returnflag")
    ranked = (
        hist.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag", "exact_p50")
        .agg(
            (
                F.floor(
                    F.sum(F.when(F.col("l_extendedprice") <= F.col("a50"), F.col("c")).otherwise(0))
                    * F.lit(1000000.0)
                    / F.first("__n")
                )
                / F.lit(1000000.0)
            ).alias("rank_frac")
        )
    )
    return ranked.select(
        "l_returnflag",
        "exact_p50",
        F.col("rank_frac").between(0.45, 0.55).alias("within_tol"),
    )


@query(
    "robust_mad_outliers",
    tier="A5+L-pipeline (median absolute deviation: robust dispersion + outlier gate)",
    oracle="""
        WITH med AS (
            SELECT event_type, QUANTILE_DISC(value, 0.5) AS m
            FROM events GROUP BY event_type
        ), dev AS (
            SELECT e.event_type, e.value, m.m,
                   ABS(e.value - m.m) AS adev
            FROM events e JOIN med m USING (event_type)
        ), mad AS (
            SELECT event_type, MAX(m) AS med_value,
                   QUANTILE_DISC(adev, 0.5) AS mad
            FROM dev GROUP BY event_type
        )
        SELECT d.event_type,
               d.med_value,
               d.mad,
               CAST(SUM(CASE WHEN ABS(v.value - d.med_value) > 3 * d.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events v JOIN mad d USING (event_type)
        GROUP BY d.event_type, d.med_value, d.mad
    """,
)
def robust_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """anomaly_zscore's robust twin: mean/std break down exactly when
    outliers are present (the outliers inflate the std that is supposed
    to flag them — masking); median absolute deviation is a 50%-
    breakdown estimator, so the 3×MAD gate stays calibrated on dirty
    data — the estimator a 100 TB data-quality sweep actually wants.
    Two grouped discrete medians (percentile_disc == QUANTILE_DISC,
    bit-exact, no rounding needed) with broadcast joins back; the
    outlier count is certified exactly. Exact medians buffer per
    group — at real scale swap approx_percentile in (sketched,
    mergeable) and keep the same gate."""
    ev = load_table(spark, "events", sf_dir).select("event_type", "value")
    ev.createOrReplaceTempView("__mad_events")
    med = spark.sql(
        """
        SELECT event_type,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS m
        FROM __mad_events GROUP BY event_type
        """
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("m"))
    )
    dev.createOrReplaceTempView("__mad_dev")
    mad = spark.sql(
        """
        SELECT event_type, MAX(m) AS med_value,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad
        FROM __mad_dev GROUP BY event_type
        """
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med_value", "mad")
        .agg(
            F.sum(
                (F.abs(F.col("value") - F.col("med_value")) > 3 * F.col("mad")).cast("bigint")
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("event_type", "med_value", "mad", "n_outliers", "n")
    )
