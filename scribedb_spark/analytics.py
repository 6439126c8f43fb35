"""Round-2 breadth: additional exact analytic operator keys.

Same contract as scribedb_spark.queries — every key pairs a Spark
DataFrame program with a DuckDB oracle that hash-matches bit-for-bit.
The exactness rules (decimal sums before double casts, unique
orderings for anything order-sensitive, identical double expression
trees on both sides) are the ones documented in queries.py's module
docstring; each key below notes which rule it leans on.

Families covered here, extending the §2 inventory:
- window:  ntile, first/last/nth_value framed navigation
- agg:     arg-max/arg-min (max_by/min_by), FILTER-clause conditional
           aggregates, boolean and bitwise aggregates, correlation
           (exact-decimal-sum formulation)
- setop:   INTERSECT ALL (bag semantics, complements setop_intersect)
- scalar:  struct/map construction + field extraction round-trip
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scribedb_spark.cache import session_cache
from scribedb_spark.queries import corpus_deps, d2, register, served
from scribedb_spark.sources import table


@register(
    "window_ntile",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus,
           ntile(4) OVER (PARTITION BY o_orderstatus
                          ORDER BY o_totalprice, o_orderkey) AS price_quartile
    FROM orders
    """,
)
def window_ntile(spark, sf_dir) -> DataFrame:
    """ntile bucketing (equal-frequency quartiles per status group).

    Exactness: ntile is pure integer arithmetic over the row order;
    o_orderkey tiebreaks ties in o_totalprice so the order — and
    therefore every bucket assignment — is engine-identical.
    Scale: one hash shuffle on the partition key; no global sort.
    """
    o = table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("price_quartile"),
    )


@register(
    "window_first_last",
    oracle="""
    SELECT s_suppkey, s_nationkey,
           first_value(s_suppkey) OVER w AS cheapest_supp,
           last_value(s_suppkey)  OVER w AS richest_supp,
           nth_value(s_suppkey, 2) OVER w AS second_supp
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last(spark, sf_dir) -> DataFrame:
    """Framed navigation functions: first/last/nth over the FULL
    partition frame (the default frame would make last_value the
    current row — the classic SQL footgun; both sides pin the frame
    explicitly). s_suppkey tiebreaks equal balances."""
    s = table(spark, "supplier", sf_dir)
    w = (
        Window.partitionBy("s_nationkey")
        .orderBy("s_acctbal", "s_suppkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return s.select(
        "s_suppkey",
        "s_nationkey",
        F.first("s_suppkey").over(w).alias("cheapest_supp"),
        F.last("s_suppkey").over(w).alias("richest_supp"),
        F.nth_value("s_suppkey", 2).over(w).alias("second_supp"),
    )


@register(
    "agg_minmax_by",
    oracle="""
    SELECT c_nationkey,
           arg_max(c_name, CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                           * 10000000 + c_custkey) AS richest_cust,
           arg_min(c_name, CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                           * 10000000 + c_custkey) AS poorest_cust
    FROM customer GROUP BY c_nationkey
    """,
)
def agg_minmax_by(spark, sf_dir) -> DataFrame:
    """arg-max/arg-min aggregation (max_by/min_by): the customer name
    at the extreme account balance per nation.

    Exactness: ties in the ordering value make arg_max engine-defined,
    so the ordering key is (balance-in-cents, custkey) packed into one
    BIGINT — exact decimal cents (no double rounding) and unique.
    Scale: a regular hash aggregate — partial max_by merges map-side
    exactly like min/max.
    """
    c = table(spark, "customer", sf_dir)
    rank = (d2("c_acctbal") * 100).cast("long") * F.lit(10_000_000) + F.col("c_custkey")
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", rank).alias("richest_cust"),
        F.min_by("c_name", rank).alias("poorest_cust"),
    )


@register(
    "agg_count_filter",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS open_total
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_count_filter(spark, sf_dir) -> DataFrame:
    """FILTER-clause conditional aggregation — several differently-
    filtered aggregates in ONE pass/shuffle (vs one scan per filter).
    Null-sum semantics match: a group with no 'O' rows yields NULL.
    """
    o = table(spark, "orders", sf_dir)
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.count(F.when(F.col("o_totalprice") > 150000, 1)).alias("n_big"),
        F.sum(F.when(F.col("o_orderstatus") == "O", d2("o_totalprice")))
        .cast("double")
        .alias("open_total"),
    )


@register(
    "agg_bool_bit",
    oracle="""
    SELECT o_orderstatus,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_custkey % 100 = 0) AS any_round_cust,
           bit_and(o_orderkey) AS key_and,
           bit_or(o_orderkey)  AS key_or,
           bit_xor(o_orderkey) AS key_xor
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_bool_bit(spark, sf_dir) -> DataFrame:
    """Boolean (every/any) and bitwise (and/or/xor) aggregates —
    all associative + commutative, so order-independent and exact on
    BIGINT/boolean; partials merge map-side."""
    o = table(spark, "orders", sf_dir)
    return o.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_custkey") % 100 == 0).alias("any_round_cust"),
        F.bit_and("o_orderkey").alias("key_and"),
        F.bit_or("o_orderkey").alias("key_or"),
        F.bit_xor("o_orderkey").alias("key_xor"),
    )


@register(
    "agg_corr_manual",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           (COUNT(*) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                                * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
            - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              * CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE))
           / sqrt(COUNT(*) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                    * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE))
           / sqrt(COUNT(*) * CAST(SUM(CAST(l_discount AS DECIMAL(18,2))
                                      * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
                  - CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
                    * CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE))
           AS corr_qty_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_corr_manual(spark, sf_dir) -> DataFrame:
    """Pearson correlation from exact decimal sums (same technique as
    agg_stats_manual): built-in corr() accumulates in floats whose
    order differs across engines; computing n, Sx, Sy, Sxx, Syy, Sxy
    as exact decimals and applying one fixed double expression
    (n*Sxy - Sx*Sy) / sqrt(n*Sxx - Sx^2) / sqrt(n*Syy - Sy^2)
    is deterministic on both sides (identical IEEE expression tree).

    Magnitude constraint: the decimal-to-double casts are only
    single-rounded when each sum's UNSCALED value stays below 2^53 —
    above that, engines legally differ in the last ulp (DuckDB's
    int128 path double-rounds; verified with sum(price^2) at sf0.001).
    corr is affine-invariant, so large-magnitude variables are
    pre-scaled, not summed raw — here quantity (<=50) vs discount
    (<=0.10) are used directly.
    Scale: six decimal partial sums per group, map-side merged — the
    same cost class as a plain SUM."""
    li = table(spark, "lineitem", sf_dir)
    n = F.count(F.lit(1))
    sx = F.sum(d2("l_quantity")).cast("double")
    sy = F.sum(d2("l_discount")).cast("double")
    sxx = F.sum(d2("l_quantity") * d2("l_quantity")).cast("double")
    syy = F.sum(d2("l_discount") * d2("l_discount")).cast("double")
    sxy = F.sum(d2("l_quantity") * d2("l_discount")).cast("double")
    corr = (n * sxy - sx * sy) / F.sqrt(n * sxx - sx * sx) / F.sqrt(n * syy - sy * sy)
    return li.groupBy("l_returnflag").agg(
        n.alias("n"), corr.alias("corr_qty_disc")
    )


@register(
    "setop_intersect_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_totalprice > 100000
    """,
)
def setop_intersect_all(spark, sf_dir) -> DataFrame:
    """INTERSECT ALL (bag semantics — keeps min(multiplicity) copies;
    complements the set-semantics setop_intersect). One shuffle on
    the value, like a groupBy."""
    o = table(spark, "orders", sf_dir)
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_totalprice") > 100000).select(F.col("o_custkey").alias("custkey"))
    return a.intersectAll(b)


@register(
    "scalar_struct_map",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS status_from_struct,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_from_struct,
           o_orderpriority AS prio_from_map,
           2 AS map_size
    FROM orders
    """,
)
def scalar_struct_map(spark, sf_dir) -> DataFrame:
    """Struct/map construction and field extraction round-trip: pack
    columns into a struct and a map, then pull them back out (output
    is flat so the cross-engine hash compares scalars, not engine-
    specific nested renderings).

    Scale: structs/maps are columnar in Tungsten — construction and
    getField are codegen'd projections, no serialization cost.
    """
    o = table(spark, "orders", sf_dir)
    packed = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            d2("o_totalprice").alias("price"),
        ).alias("s"),
        F.create_map(
            F.lit("prio"), F.col("o_orderpriority"),
            F.lit("status"), F.col("o_orderstatus"),
        ).alias("m"),
    )
    return packed.select(
        "o_orderkey",
        F.col("s.status").alias("status_from_struct"),
        F.col("s.price").cast("double").alias("price_from_struct"),
        F.element_at("m", "prio").alias("prio_from_map"),
        F.size("m").alias("map_size"),
    )


@register(
    "scalar_url_parse",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' || doc_id
               || '?lang=' || lang AS url
      FROM documents)
    SELECT doc_id,
           regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param
    FROM u
    """,
)
def scalar_url_parse(spark, sf_dir) -> DataFrame:
    """URL parsing family (parse_url HOST/PATH/QUERY-param): Spark's
    dedicated parser vs the oracle's equivalent regexps — same output
    on well-formed URLs. The URLs are constructed from table columns
    so the check covers real value diversity."""
    d = table(spark, "documents", sf_dir)
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


@register(
    "window_ignore_nulls",
    oracle="""
    SELECT event_id, user_id, ts,
           last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS last_good_value
    FROM events
    """,
)
def window_ignore_nulls(spark, sf_dir) -> DataFrame:
    """IGNORE NULLS navigation (gap-filling / last-observation-carried-
    forward): per user, the running latest non-error reading. The
    (ts, event_id) ordering is unique, so the carried value is
    deterministic on both engines."""
    e = table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    good = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.last(good, ignorenulls=True).over(w).alias("last_good_value"),
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT o_orderstatus,
           CAST(floor(o_totalprice / 60000) AS INT) AS bucket,
           COUNT(*) AS n,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM orders
    GROUP BY o_orderstatus, bucket
    """,
)
def agg_histogram(spark, sf_dir) -> DataFrame:
    """Fixed-width histogram per group (manual bucket expression, not
    width_bucket, so both engines evaluate the IDENTICAL double
    formula — engine-internal width_bucket roundings can't disagree).
    Scale: a plain two-key hash aggregate; the bucket count bounds
    output size regardless of input rows."""
    o = table(spark, "orders", sf_dir)
    bucket = F.floor(F.col("o_totalprice") / 60000).cast("int")
    return o.groupBy("o_orderstatus", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
)


@register(
    "profile_columns",
    oracle=" UNION ALL ".join(
        f"""
    SELECT '{c}' AS col_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct
    FROM orders"""
        for c in _PROFILE_COLS
    ),
)
def profile_columns(spark, sf_dir) -> DataFrame:
    """Per-column profile (rows / nulls / exact distinct) — the
    standard pre-compare step in the reference's domain: before
    diffing two tables you profile both sides to pick a key and spot
    null-rate drift (a column whose n_distinct == n_rows is a key
    candidate; compare.keyed_diff validates the choice).

    Plan: ONE scan. Catalyst rewrites the multi-column COUNT(DISTINCT)
    into its standard expand + two-stage aggregate (C-fold row
    expansion, map-side partials), and the single wide result row is
    transposed to long form with stack() — map-only on one row. No
    per-column rescans, no collect. At 100 TB the C-fold expand is
    the exact-answer cost; swap COUNT(DISTINCT) for
    approx_count_distinct (see agg_approx_distinct) when ±2% is
    acceptable. Counting avoids value RENDERING entirely, so
    double/timestamp columns can't hash-mismatch on format.
    """
    o = table(spark, "orders", sf_dir)
    aggs: list = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"cnt_{c}"))
        aggs.append(F.countDistinct(c).alias(f"dst_{c}"))
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_rows - cnt_{c}, dst_{c}" for c in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) "
            "AS (col_name, n_nulls, n_distinct)"
        ),
        "n_rows",
    ).select("col_name", "n_rows", "n_nulls", "n_distinct")


@register(
    "rollup_retention",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
    c AS (
      SELECT user_id, d,
             MIN(d) OVER (PARTITION BY user_id) AS cohort_day
      FROM act)
    SELECT cohort_day,
           CAST(date_diff('day', cohort_day, d) AS INT) AS offset_days,
           COUNT(DISTINCT user_id) AS n_users
    FROM c GROUP BY 1, 2
    """,
)
def rollup_retention(spark, sf_dir) -> DataFrame:
    """Cohort retention triangle: users grouped by first-active day,
    counted on each later active day — the standard product-analytics
    rollup (and, for a training pipeline, the shape of "how much of
    each ingest cohort survives each curation pass").

    Plan: distinct (user, day) first — map-side partial collapses
    each user's many daily events before anything wide — then the
    per-user cohort via a window MIN (no self-join), then the
    (cohort, offset) rollup with partial aggregation. Three
    key-partitioned shuffles, none carrying more than one row per
    (user, day). Day buckets stay `date_trunc` timestamps — the
    cross-engine-exact bucket idiom of rollup_hypertable.
    """
    e = table(spark, "events", sf_dir)
    act = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    cohort = F.min("d").over(Window.partitionBy("user_id"))
    return (
        act.withColumn("cohort_day", cohort)
        .groupBy(
            "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day"))
            .cast("int")
            .alias("offset_days"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "rollup_funnel",
    oracle="""
    WITH tv AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    tc AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN tv ON e.user_id = tv.user_id
      WHERE e.event_type = 'click' AND e.ts > tv.t_view
      GROUP BY e.user_id),
    tp AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN tc ON e.user_id = tc.user_id
      WHERE e.event_type = 'purchase' AND e.ts > tc.t_click
      GROUP BY e.user_id)
    SELECT CAST(COUNT(tv.user_id) AS BIGINT) AS n_view_users,
           CAST(COUNT(tc.user_id) AS BIGINT) AS n_click_users,
           CAST(COUNT(tp.user_id) AS BIGINT) AS n_purchase_users
    FROM tv
    LEFT JOIN tc ON tv.user_id = tc.user_id
    LEFT JOIN tp ON tc.user_id = tp.user_id
    """,
)
def rollup_funnel(spark, sf_dir) -> DataFrame:
    """Ordered funnel conversion: view -> first click AFTER the
    first view -> first purchase AFTER that click, per user; output
    is one row of stage-completion counts. Strict event ordering
    (each stage's timestamp must follow the previous stage's), not
    mere per-user existence — the semantics sessionization tools
    get wrong when they count any-order co-occurrence.

    Plan: ONE scan, ONE exchange. The three stage timestamps stack
    as sequential whole-partition window MINs over user_id (each
    conditioned on the previous stage's column, so they can't fuse
    into one aggregate — but they all share the same partitioning
    and run back-to-back on the same exchange, no sort needed), then
    one per-user collapse and a single-row count. The naive
    formulation — three groupBys chained by user_id joins — expands
    each stage's subtree into every consumer and rescans events SIX
    times; this shape scans it once. Timestamps compare as exact
    microsecond integers on both engines.
    """
    e = table(spark, "events", sf_dir).select("user_id", "event_type", "ts")
    wu = Window.partitionBy("user_id")
    staged = (
        e.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(wu),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).over(wu),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).over(wu),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count("t_view").alias("n_view_users"),
        F.count("t_click").alias("n_click_users"),
        F.count("t_purchase").alias("n_purchase_users"),
    )


@register(
    "join_interval_overlap",
    oracle="""
    WITH iv AS (
      SELECT user_id, date_trunc('day', ts) AS d,
             MIN(ts) AS t0, MAX(ts) AS t1
      FROM events GROUP BY 1, 2)
    SELECT a.d, a.user_id AS user1, b.user_id AS user2,
           CAST(epoch_us(LEAST(a.t1, b.t1))
                - epoch_us(GREATEST(a.t0, b.t0)) AS BIGINT) AS overlap_us
    FROM iv a JOIN iv b
      ON a.d = b.d AND a.user_id < b.user_id
     AND a.t0 <= b.t1 AND b.t0 <= a.t1
    WHERE epoch_us(LEAST(a.t1, b.t1)) - epoch_us(GREATEST(a.t0, b.t0))
          >= 72000000000
    """,
)
def join_interval_overlap(spark, sf_dir) -> DataFrame:
    """Interval-overlap self-join: pairs of users whose daily
    activity spans [first event, last event] overlap by >= 20 hours
    on the same day — the big-x-big interval join (co-activity,
    session concurrency, range containment) that a naive formulation
    turns into a broadcast-nested-loop over the whole corpus.

    The scale pattern is EPOCH BINNING: intervals are built per
    (user, day) so the day is an exact equi-key — the join hash-
    partitions on it and the interval predicates run as post-join
    filters inside each bin, never across bins. (Generic intervals
    get the same treatment by exploding each into the fixed-width
    epochs it touches and de-duplicating matches; here spans are
    within-day by construction, so one bin each suffices.) Contrast
    join_range (queries.py), where one side is a tiny broadcast
    banding dim. The interval build is one partial-aggregated
    groupBy; overlap microseconds are exact integer arithmetic on
    both engines.
    """
    e = table(spark, "events", sf_dir)
    iv = e.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    a = iv.alias("a")
    b = iv.alias("b")
    ov = F.unix_micros(
        F.least(F.col("a.t1"), F.col("b.t1"))
    ) - F.unix_micros(F.greatest(F.col("a.t0"), F.col("b.t0")))
    return (
        a.join(
            b,
            (F.col("a.d") == F.col("b.d"))
            & (F.col("a.user_id") < F.col("b.user_id"))
            & (F.col("a.t0") <= F.col("b.t1"))
            & (F.col("b.t0") <= F.col("a.t1")),
        )
        .filter(ov >= 72000000000)
        .select(
            F.col("a.d").alias("d"),
            F.col("a.user_id").alias("user1"),
            F.col("b.user_id").alias("user2"),
            ov.alias("overlap_us"),
        )
    )


@register(
    "agg_mode",
    oracle="""
    WITH cnt AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY 1, 2),
    r AS (
      SELECT o_orderstatus, o_orderpriority, n,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY n DESC, o_orderpriority) AS rn
      FROM cnt)
    SELECT o_orderstatus,
           o_orderpriority AS mode_priority,
           n AS mode_count
    FROM r WHERE rn = 1
    """,
)
def agg_mode(spark, sf_dir) -> DataFrame:
    """Per-group statistical mode (most frequent value) with a
    deterministic tiebreak: highest count, then smallest value.
    Built-in mode() is tie-nondeterministic in both engines, so the
    exact formulation is a two-level aggregate — count per
    (group, value), then rank-1 per group.

    Scale: the first groupBy does all the data reduction with
    map-side partials (the shuffle carries one row per distinct
    (group, value) pair, never raw rows); the window then ranks a
    frame whose size is the VALUE-DOMAIN cardinality (|status| x
    |priorities| here), independent of row count — same cost at 100 TB
    as at sf0.01."""
    o = table(spark, "orders", sf_dir)
    cnt = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("n"), F.col("o_orderpriority")
    )
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        )
    )


@register(
    "rollup_path_ngrams",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS b,
             lead(event_type, 2) OVER w AS c
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_type || '>' || b || '>' || c AS path,
           COUNT(*) AS n_paths
    FROM s WHERE c IS NOT NULL
    GROUP BY 1
    ORDER BY n_paths DESC, path
    LIMIT 20
    """,
)
def rollup_path_ngrams(spark, sf_dir) -> DataFrame:
    """Top-20 most common event-type trigram paths (a>b>c) across all
    user journeys — the clickstream path-analysis rollup (and, for a
    training pipeline, the shape of per-document token-transition
    mining). Window ordering carries the unique event_id tiebreaker so
    equal-timestamp neighbors sequence identically in both engines.

    Scale: sequence construction is inherently per-user — ONE shuffle
    on user_id for the lead window (no cross-user state), then the
    path count aggregates on a key whose cardinality is bounded by
    |event_type|^3 (125 here) with map-side partials, and the top-20
    is TakeOrderedAndProject (no global sort). Per-user partitions are
    single-user-history sized; a user with millions of events is the
    skew case and would be range-chunked first."""
    e = table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    )
    return (
        s.filter(F.col("c").isNotNull())
        .select(F.concat_ws(">", "a", "b", "c").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "path")
        .limit(20)
    )


@register(
    "agg_zscore_outliers",
    oracle="""
    WITH st AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
             CAST(SUM(CAST(value AS DECIMAL(18,2))
                      * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS ss
      FROM events GROUP BY 1)
    SELECT e.event_id, e.event_type, e.value,
           ROUND((e.value - st.s / st.n)
                 / sqrt(st.ss / st.n - (st.s / st.n) * (st.s / st.n)),
                 6) AS z
    FROM events e JOIN st ON e.event_type = st.event_type
    WHERE abs((e.value - st.s / st.n)
              / sqrt(st.ss / st.n - (st.s / st.n) * (st.s / st.n))) > 2.5
    """,
)
def agg_zscore_outliers(spark, sf_dir) -> DataFrame:
    """Per-group z-score outlier detection (|z| > 2.5 against the
    group's own mean/std) — the standard numeric-drift screen run
    before a table compare, and a quality gate in data curation.

    Exactness: mean and population std come from exact decimal sums
    (n, S, SS — the agg_corr_manual technique), and z applies ONE
    identical double expression tree on both sides, so even rows
    sitting near the 2.5 boundary filter identically; the reported z
    is rounded to 6 dp for the hash.

    Scale: two passes expressed as one aggregate + one broadcast-able
    join — the stats table has |group| rows (map-side partials do the
    reduction), then the row-level z is a codegen'd projection. No
    window over raw rows, no sort."""
    e = table(spark, "events", sf_dir)
    st = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d2("value")).cast("double").alias("s"),
        F.sum(d2("value") * d2("value")).cast("double").alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    std = F.sqrt(F.col("ss") / F.col("n") - mean * mean)
    z = (F.col("value") - mean) / std
    return (
        e.join(st, "event_type")
        .filter(F.abs(z) > 2.5)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 6).alias("z"),
        )
    )


@register(
    "profile_key_skew",
    oracle="""
    WITH pk AS (
      SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           MAX(cnt) AS max_cnt,
           MIN(cnt) AS min_cnt,
           CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS avg_cnt,
           CAST(SUM(CASE WHEN cnt >= 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keys_ge_10,
           CAST(SUM(CASE WHEN cnt >= 50 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keys_ge_50,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_singleton_keys
    FROM pk
    """,
)
def profile_key_skew(spark, sf_dir) -> DataFrame:
    """Join/agg-key skew profile: the per-key count distribution of a
    prospective shuffle key, summarized as exact integer tail counts
    (max, singletons, keys above burst thresholds) plus the exact
    average. This is the pre-flight a 100 TB join runs to decide
    between a plain hash join, AQE skew splitting, or explicit
    salting (operators/skew.py) — max_cnt/avg_cnt is the skew factor.

    Exactness: everything is COUNT-derived integers (no value
    rendering at all) except avg_cnt, which is an exact integer sum
    divided once — identical in both engines.

    Scale: one groupBy with map-side partials (the shuffle carries
    one row per key), then a single-row final aggregate. The
    threshold counts avoid percentile interpolation entirely —
    exact-percentile semantics differ subtly across engines, and the
    tail counts answer the same operational question."""
    o = table(spark, "orders", sf_dir)
    pk = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    return pk.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.min("cnt").alias("min_cnt"),
        (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("avg_cnt"),
        F.sum(F.when(F.col("cnt") >= 10, 1).otherwise(0))
        .cast("long")
        .alias("n_keys_ge_10"),
        F.sum(F.when(F.col("cnt") >= 50, 1).otherwise(0))
        .cast("long")
        .alias("n_keys_ge_50"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_singleton_keys"),
    )


@register(
    "join_asof_nearest",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, MIN(event_id) AS pid
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
    c AS (
      SELECT event_id AS click_id, user_id, ts
      FROM events WHERE event_type = 'click'),
    b AS (
      SELECT c.click_id, c.user_id, c.ts,
             p.pid AS back_pid, p.ts AS back_ts
      FROM c ASOF LEFT JOIN p
        ON c.user_id = p.user_id AND c.ts >= p.ts),
    f AS (
      SELECT c.click_id, p.pid AS fwd_pid, p.ts AS fwd_ts
      FROM c ASOF LEFT JOIN p
        ON c.user_id = p.user_id AND c.ts <= p.ts)
    SELECT b.click_id, b.user_id, b.ts AS click_ts,
           CASE WHEN f.fwd_ts IS NULL THEN b.back_pid
                WHEN b.back_ts IS NULL THEN f.fwd_pid
                WHEN epoch_us(b.ts) - epoch_us(b.back_ts)
                     <= epoch_us(f.fwd_ts) - epoch_us(b.ts)
                THEN b.back_pid
                ELSE f.fwd_pid END AS purchase_id
    FROM b JOIN f ON b.click_id = f.click_id
    """,
)
def join_asof_nearest(spark, sf_dir) -> DataFrame:
    """Nearest-event as-of join: each click matched to the CLOSEST
    purchase in time, looking both directions; ties (equidistant, or
    an exact-ts purchase) resolve backward. Completes the as-of
    family (join_asof backward, join_asof_forward forward).

    One union + one shuffle on user_id computes BOTH directions: the
    trailing frame carries the latest prior purchase, the following
    frame the next one, over the same sort (purchases order before
    clicks at equal ts, so the trailing frame sees an exact-ts
    purchase — its delta is 0 and backward wins, which also makes the
    forward frame's exclusion of that same-ts purchase irrelevant).
    The pick is an integer-microsecond comparison — exact on both
    engines. Purchases are pre-reduced to one per (user_id, ts) via
    MIN event_id so neither engine has a hidden tie to break.

    Scale: same class as join_asof — sequence logic stays per-user
    (one exchange), windows are frame-bounded, no self-join of raw
    events (the DuckDB oracle's two ASOF joins + re-join is the
    shape this composition avoids)."""
    e = table(spark, "events", sf_dir)
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("pid"))
        .select(
            "user_id", "ts", "pid",
            F.lit(0).alias("kind"),
            F.lit(None).cast("long").alias("click_id"),
        )
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.lit(None).cast("long").alias("pid"),
        F.lit(1).alias("kind"),
        F.col("event_id").alias("click_id"),
    )
    u = purchases.unionByName(clicks).withColumn(
        "pts", F.when(F.col("kind") == 0, F.col("ts"))
    ).withColumn("sid", F.coalesce("pid", "click_id"))
    base = Window.partitionBy("user_id").orderBy("ts", "kind", "sid")
    trail = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ahead = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    carried = (
        u.withColumn("back_pid", F.last("pid", ignorenulls=True).over(trail))
        .withColumn("back_ts", F.last("pts", ignorenulls=True).over(trail))
        .withColumn("fwd_pid", F.first("pid", ignorenulls=True).over(ahead))
        .withColumn("fwd_ts", F.first("pts", ignorenulls=True).over(ahead))
    )
    back_d = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("back_ts"))
    fwd_d = F.unix_micros(F.col("fwd_ts")) - F.unix_micros(F.col("ts"))
    pick = (
        F.when(F.col("fwd_ts").isNull(), F.col("back_pid"))
        .when(F.col("back_ts").isNull(), F.col("fwd_pid"))
        .when(back_d <= fwd_d, F.col("back_pid"))
        .otherwise(F.col("fwd_pid"))
    )
    return carried.filter(F.col("kind") == 1).select(
        "click_id",
        "user_id",
        F.col("ts").alias("click_ts"),
        pick.alias("purchase_id"),
    )


@register(
    "rollup_journey_pattern",
    oracle="""
    WITH j AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS journey
      FROM events GROUP BY user_id)
    SELECT user_id, journey,
           CAST(regexp_matches(journey, 'v.*c.*p') AS INT) AS funnel_vcp,
           CAST(length(journey) AS INT) AS n_events
    FROM j
    """,
)
def rollup_journey_pattern(spark, sf_dir) -> DataFrame:
    """Per-user journey strings + regex pattern matching — the
    poor-man's MATCH_RECOGNIZE: each user's ordered event-type
    initials concatenate into one string ('vvcep...'), and funnel /
    sequence questions become regexes over it (here: a view, then a
    click, then a purchase, in order, anything between).

    Determinism: collect_list is order-nondeterministic, so events
    are collected as (ts, event_id, ch) structs and array_sort'ed —
    a total lexicographic order (event_id unique) identical to the
    oracle's ORDER BY ts, event_id. The regex semantics (unanchored
    search) agree between Spark rlike and DuckDB regexp_matches.

    Scale: one shuffle on user_id (collect_list merges partial
    lists map-side); per-user state is that user's history — the
    same per-entity bound as sessionization, with the usual
    range-chunking escape for pathological users. The sort and the
    interpreted transform run on ~tens of elements per user."""
    e = table(spark, "events", sf_dir)
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("ts"),
                F.col("event_id"),
                F.substring("event_type", 1, 1).alias("ch"),
            )
        )
    )
    j = e.groupBy("user_id").agg(
        F.concat_ws(
            "", F.transform(arr, lambda s: s["ch"])
        ).alias("journey")
    )
    return j.select(
        "user_id",
        "journey",
        F.col("journey").rlike("v.*c.*p").cast("int").alias("funnel_vcp"),
        F.length("journey").cast("int").alias("n_events"),
    )


@register(
    "compare_col_drift",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders),
    tgt AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 1000 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice,
             CASE WHEN o_orderkey % 500 = 0 THEN NULL
                  ELSE o_orderpriority END AS o_orderpriority
      FROM orders WHERE o_orderkey % 2000 <> 0),
    ps AS (
      SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
             COUNT(*) - COUNT(o_orderkey) AS n_nulls,
             COUNT(DISTINCT o_orderkey) AS n_distinct FROM src
      UNION ALL
      SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
             COUNT(DISTINCT o_totalprice) FROM src
      UNION ALL
      SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
             COUNT(DISTINCT o_orderpriority) FROM src),
    pt AS (
      SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
             COUNT(*) - COUNT(o_orderkey) AS n_nulls,
             COUNT(DISTINCT o_orderkey) AS n_distinct FROM tgt
      UNION ALL
      SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
             COUNT(DISTINCT o_totalprice) FROM tgt
      UNION ALL
      SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
             COUNT(DISTINCT o_orderpriority) FROM tgt)
    SELECT ps.col_name,
           ps.n_rows AS rows_src, pt.n_rows AS rows_tgt,
           ps.n_nulls AS nulls_src, pt.n_nulls AS nulls_tgt,
           ps.n_distinct AS distinct_src, pt.n_distinct AS distinct_tgt,
           CAST(ps.n_rows <> pt.n_rows OR ps.n_nulls <> pt.n_nulls
                OR ps.n_distinct <> pt.n_distinct AS INT) AS drift
    FROM ps JOIN pt ON ps.col_name = pt.col_name
    """,
)
def compare_col_drift(spark, sf_dir) -> DataFrame:
    """Side-by-side column-profile drift: before paying for a full
    row compare, profile both sides (rows / nulls / exact distinct
    per column) and diff the PROFILES — a dropped partition, a new
    null source, or a collapsed enum shows up here at aggregate cost.
    This is the reference domain's pre-flight (its count-first
    behavior generalized per column), and the cheap first tier above
    compare_verdict / compare_keyed_diff.

    Exactness: all COUNT-derived integers; no value rendering.

    Scale: one scan + one multi-distinct aggregate per side (Catalyst
    expand + partial aggregation, same plan class as
    profile_columns), then a |columns|-row join — the compare cost is
    independent of row count beyond the two scans."""
    cols = ["o_orderkey", "o_totalprice", "o_orderpriority"]
    o = table(spark, "orders", sf_dir).select(*cols)
    src = o
    tgt = (
        o.filter(F.col("o_orderkey") % 2000 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 1000 == 0, F.col("o_totalprice") + 1
            ).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderpriority",
            F.when(F.col("o_orderkey") % 500 == 0, F.lit(None)).otherwise(
                F.col("o_orderpriority")
            ),
        )
    )

    def profile(df: DataFrame, suffix: str) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c in cols:
            aggs.append(F.count(c).alias(f"cnt_{c}"))
            aggs.append(F.countDistinct(c).alias(f"dst_{c}"))
        wide = df.agg(*aggs)
        stack_args = ", ".join(
            f"'{c}', n_rows - cnt_{c}, dst_{c}" for c in cols
        )
        return wide.select(
            F.expr(
                f"stack({len(cols)}, {stack_args}) "
                "AS (col_name, n_nulls, n_distinct)"
            ),
            "n_rows",
        ).select(
            "col_name",
            F.col("n_rows").alias(f"rows_{suffix}"),
            F.col("n_nulls").alias(f"nulls_{suffix}"),
            F.col("n_distinct").alias(f"distinct_{suffix}"),
        )

    ps, pt = profile(src, "src"), profile(tgt, "tgt")
    drift = (
        (F.col("rows_src") != F.col("rows_tgt"))
        | (F.col("nulls_src") != F.col("nulls_tgt"))
        | (F.col("distinct_src") != F.col("distinct_tgt"))
    )
    return ps.join(pt, "col_name").select(
        "col_name",
        "rows_src", "rows_tgt",
        "nulls_src", "nulls_tgt",
        "distinct_src", "distinct_tgt",
        drift.cast("int").alias("drift"),
    )


@register(
    "window_running_distinct",
    oracle="""
    WITH f AS (
      SELECT event_id, user_id, ts,
             CASE WHEN row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events)
    SELECT event_id, user_id,
           CAST(SUM(first_seen) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_types_so_far
    FROM f
    """,
)
def window_running_distinct(spark, sf_dir) -> DataFrame:
    """Running COUNT(DISTINCT) over an ordered stream — SQL can't
    express it directly (DISTINCT isn't frame-able), so the exact
    rewrite is: flag each (user, event_type)'s FIRST occurrence with
    a per-type row_number, then a cumulative sum of the flags in
    event order. Classic enrichment for engagement breadth ("how many
    distinct behaviors has this user shown by time t").

    Scale: two key-partitioned windows ((user, type) then (user)) —
    two exchanges of slim rows, each frame bounded per user; no
    collect_set state growing with the frame (the naive
    size(collect_set() OVER ...) carries a per-row set — memory grows
    with distinct cardinality and the state serializes per row)."""
    e = table(spark, "events", sf_dir)
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    f = e.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "first_seen"
        ),
    )
    return f.select(
        "event_id",
        "user_id",
        F.sum("first_seen").over(w_cum).cast("long").alias("n_types_so_far"),
    )


@register(
    "merge_upsert",
    oracle="""
    WITH snap AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 50 <> 0),
    delta AS (
      SELECT o_orderkey, 'U' AS o_orderstatus,
             o_totalprice + 10 AS o_totalprice
      FROM orders WHERE o_orderkey % 40 = 0)
    SELECT COALESCE(d.o_orderkey, s.o_orderkey) AS o_orderkey,
           COALESCE(d.o_orderstatus, s.o_orderstatus) AS o_orderstatus,
           COALESCE(d.o_totalprice, s.o_totalprice) AS o_totalprice,
           CASE WHEN d.o_orderkey IS NULL THEN 'kept'
                WHEN s.o_orderkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS merge_action
    FROM snap s FULL OUTER JOIN delta d ON s.o_orderkey = d.o_orderkey
    """,
)
def merge_upsert(spark, sf_dir) -> DataFrame:
    """Keyed upsert MERGE (SCD type 1): a change batch merged into a
    snapshot — delta rows win on matching keys (update), unmatched
    delta rows insert, untouched snapshot rows carry over — each
    output row tagged with its merge action. This is the lakehouse
    MERGE INTO expressed as one full-outer join + coalesce
    projection, the batch twin of foreachBatch upserts.

    Scale: ONE shuffle each side on the merge key — and in a real
    deployment the snapshot is bucketed by key (sources.
    write_bucketed) so only the (small) delta shuffles; AQE picks a
    broadcast when the delta is tiny. No window, no sort. The action
    tag costs nothing extra — it falls out of the join's null
    pattern."""
    o = table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snap = o.filter(F.col("o_orderkey") % 50 != 0)
    delta = (
        o.filter(F.col("o_orderkey") % 40 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice") + 10).alias("o_totalprice"),
        )
    )
    s, d = snap.alias("s"), delta.alias("d")
    joined = s.join(d, F.col("s.o_orderkey") == F.col("d.o_orderkey"), "full_outer")
    action = (
        F.when(F.col("d.o_orderkey").isNull(), "kept")
        .when(F.col("s.o_orderkey").isNull(), "inserted")
        .otherwise("updated")
    )
    return joined.select(
        F.coalesce(F.col("d.o_orderkey"), F.col("s.o_orderkey")).alias("o_orderkey"),
        F.coalesce(F.col("d.o_orderstatus"), F.col("s.o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.coalesce(F.col("d.o_totalprice"), F.col("s.o_totalprice")).alias(
            "o_totalprice"
        ),
        action.alias("merge_action"),
    )


@register(
    "scd2_history",
    oracle="""
    WITH tr AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_type,
             lead(ts) OVER w AS next_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    chg AS (
      SELECT user_id, event_type, ts, event_id,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM tr WHERE prev_type IS NULL OR prev_type <> event_type)
    SELECT user_id,
           event_type AS state,
           ts AS valid_from,
           valid_to,
           CAST(valid_to IS NULL AS INT) AS is_current
    FROM chg
    """,
)
def scd2_history(spark, sf_dir) -> DataFrame:
    """Slowly-changing-dimension type 2 history built from an event
    stream: collapse each user's consecutive same-state runs and emit
    one validity interval per run — valid_from = first event of the
    run, valid_to = start of the NEXT run (NULL while current). The
    standard gaps-and-islands construction: a lag() change detector
    keeps run heads, then lead() over the surviving heads closes each
    interval.

    Determinism: the window order carries event_id, so same-timestamp
    events sequence identically in both engines; interval bounds are
    exact microsecond timestamps.

    Scale: both windows partition on user_id and the SECOND operates
    only on run heads (already reduced), reusing the same
    partitioning — Catalyst plans one exchange. This is how
    dimension histories are derived from CDC logs at 100 TB: per-key
    sequence logic, no self-joins."""
    e = table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    heads = tr.filter(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return heads.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull().cast("int"))


@register(
    "rollup_pareto_abc",
    oracle="""
    WITH rev AS (
      SELECT c.c_nationkey, o.o_custkey,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT c_nationkey, o_custkey, r,
             SUM(r) OVER (PARTITION BY c_nationkey
                          ORDER BY r DESC, o_custkey
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(r) OVER (PARTITION BY c_nationkey) AS tot
      FROM rev),
    labeled AS (
      SELECT c_nationkey,
             CASE WHEN cum * 2 <= tot THEN 'A'
                  WHEN cum * 5 <= tot * 4 THEN 'B'
                  ELSE 'C' END AS abc_class,
             r
      FROM ranked)
    SELECT c_nationkey, abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(r) AS DOUBLE) AS class_revenue
    FROM labeled GROUP BY 1, 2
    """,
)
def rollup_pareto_abc(spark, sf_dir) -> DataFrame:
    """Pareto / ABC analysis per nation: customers ranked by revenue,
    classed A while their cumulative share stays <= 50%, B to 80%,
    C beyond — the concentration profile behind "which 20% of keys
    carry 80% of the volume" (and, for a shuffle planner, which keys
    deserve salting — see profile_key_skew for the count-side twin).

    Exactness: revenue, the running cumulative, and the partition
    total are all exact decimals; the class boundaries compare
    cum*2 <= tot and cum*5 <= tot*4 in INTEGER-exact decimal
    arithmetic (no 0.5/0.8 double factors), and the rank order
    carries the custkey tiebreaker — so class assignment cannot flip
    between engines even when a customer lands exactly on a
    boundary.

    Scale: the raw table collapses in the first aggregation; the
    cumsum window partitions by nation (per-nation frames). A key
    space where single partitions are still huge would range-chunk
    the cumsum exactly like canonical.global_row_number."""
    o = table(spark, "orders", sf_dir)
    c = table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(d2("o_totalprice")).alias("r"))
    )
    w_cum = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.desc("r"), "o_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("c_nationkey")
    ranked = rev.withColumn("cum", F.sum("r").over(w_cum)).withColumn(
        "tot", F.sum("r").over(w_tot)
    )
    abc = (
        F.when(F.col("cum") * 2 <= F.col("tot"), "A")
        .when(F.col("cum") * 5 <= F.col("tot") * 4, "B")
        .otherwise("C")
    )
    return (
        ranked.withColumn("abc_class", abc)
        .groupBy("c_nationkey", "abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("r").cast("double").alias("class_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# z-order layout bucketing — the lakehouse OPTIMIZE ZORDER analog
# ---------------------------------------------------------------------------

_Z_BITS = 16


def _z_terms(xcol: str, ycol: str, spark_side: bool) -> str:
    """Unrolled 2x16-bit Morton interleave as a SQL expression string
    (z = sum_i x_bit_i<<2i | y_bit_i<<2i+1). Generated once for both
    engines from the same loop — only the bit-op spelling differs
    (Spark: shiftright()/& functions; DuckDB: >>/& operators) — so
    the integer result is identical by construction."""
    terms = []
    for i in range(_Z_BITS):
        if spark_side:
            terms.append(f"(shiftright({xcol}, {i}) & 1) * {1 << (2 * i)}")
            terms.append(f"(shiftright({ycol}, {i}) & 1) * {1 << (2 * i + 1)}")
        else:
            terms.append(f"(({xcol} >> {i}) & 1) * {1 << (2 * i)}")
            terms.append(f"(({ycol} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@register(
    "layout_zorder",
    oracle=f"""
    WITH b AS (
      SELECT event_id,
             CAST(user_id AS BIGINT) & 65535 AS ux,
             CAST(epoch_us(ts) // 60000000 AS BIGINT) & 65535 AS uy
      FROM events),
    z AS (
      SELECT event_id, ux, uy,
             CAST({_z_terms('ux', 'uy', spark_side=False)} AS BIGINT) AS zval
      FROM b)
    SELECT zval // {1 << 22} AS z_bucket,
           COUNT(*) AS n_rows,
           MIN(ux) AS min_user, MAX(ux) AS max_user,
           MIN(uy) AS min_minute, MAX(uy) AS max_minute
    FROM z
    GROUP BY z_bucket
    """,
)
def layout_zorder(spark, sf_dir) -> DataFrame:
    """Z-order (Morton-curve) layout bucketing over (user, minute) —
    the data-layout operator behind lakehouse OPTIMIZE ZORDER: rows
    whose keys are close in BOTH dimensions land in the same z-bucket,
    so a file written per bucket carries tight min/max ranges for both
    columns and point/range scans on either dimension prune files.
    The per-bucket (min, max) spans this returns ARE the would-be
    parquet footer stats — the oracle-checked evidence of locality.

    Exactness: pure integer bit arithmetic (unrolled 16-bit
    interleave, identical term-by-term in both engines — _z_terms);
    minute index from epoch microseconds by integer division (the
    ns->us rule, sources.table()).

    Scale: map-only z-value projection + one hash aggregation with
    map-side partials. The real write path is
    ``df.repartitionByRange(n, 'zval').write`` — range partitioning by
    z-value is what turns the bucket stats into physical file
    pruning; the rollup here validates the curve, not the sink."""
    e = table(spark, "events", sf_dir)
    b = e.select(
        "event_id",
        (F.col("user_id").cast("long").bitwiseAND(65535)).alias("ux"),
        (
            F.expr("unix_micros(ts) div 60000000").cast("long").bitwiseAND(65535)
        ).alias("uy"),
    )
    z = b.select(
        "event_id",
        "ux",
        "uy",
        F.expr(_z_terms("ux", "uy", spark_side=True)).cast("long").alias("zval"),
    )
    return (
        z.groupBy(F.expr(f"zval div {1 << 22}").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ux").alias("min_user"),
            F.max("ux").alias("max_user"),
            F.min("uy").alias("min_minute"),
            F.max("uy").alias("max_minute"),
        )
    )


@register(
    "profile_vec_dims",
    oracle="""
    WITH d AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    x AS (
      SELECT CAST(i AS BIGINT) AS dim,
             CAST(floor(e[CAST(i AS INT) + 1] * 1000000 + 0.5) AS BIGINT)
               AS micro
      FROM d CROSS JOIN range(64) t(i))
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(micro) AS min_micro,
           MAX(micro) AS max_micro,
           CAST(SUM(CASE WHEN micro = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dead,
           ROUND(CAST(SUM(micro) AS DOUBLE) / COUNT(*) / 1000000, 6)
             AS avg_value
    FROM x GROUP BY dim
    """,
)
def profile_vec_dims(spark, sf_dir) -> DataFrame:
    """Per-dimension embedding QA profile — the preflight an ANN
    index build runs before trusting a new embedding batch: for each
    of the 64 dimensions, the value range, mean and dead-at-zero
    count in integer micro-units. Catches the failure modes that
    silently wreck vector search at scale (a dimension stuck at zero
    after a model change, per-dimension scale drift between batches
    making old and new vectors incomparable) while they are still
    one cheap aggregate away.

    Exactness: values fix to integer micro-units (floor(x*1e6+0.5),
    the quantize idiom — element-wise IEEE, engine-identical), so
    min/max/sums are exact integers; the mean is the two-divide
    left-associated chain + ROUND 6, the agg_median_exact pattern.

    Scale: one projection explodes n x 64 (dim, micro) pairs
    (codegen posexplode — no Python), one hash aggregation with
    map-side partials keyed by the 64 dims; output is 64 rows
    regardless of corpus size."""
    from scribedb_spark.functions.vector import to_double_array

    e = table(spark, "embeddings", sf_dir)
    x = e.select(
        F.posexplode(to_double_array("embedding")).alias("dim", "xv")
    ).select(
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("xv") * 1000000 + F.lit(0.5)).cast("long").alias("micro"),
    )
    return x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("micro").alias("min_micro"),
        F.max("micro").alias("max_micro"),
        F.sum(F.when(F.col("micro") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_dead"),
        F.round(
            F.sum("micro").cast("double") / F.count(F.lit(1)) / 1000000, 6
        ).alias("avg_value"),
    )


@register(
    "rollup_decayed_popularity",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS max_ts FROM events),
    w AS (
      SELECT event_type,
             1000000 // (1 + date_diff('day', CAST(e.ts AS DATE),
                                       CAST(mx.max_ts AS DATE))) AS wt
      FROM events e CROSS JOIN mx)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(wt) AS BIGINT) AS decayed_score
    FROM w GROUP BY event_type
    """,
)
def rollup_decayed_popularity(spark, sf_dir) -> DataFrame:
    """Freshness-weighted popularity — the recency signal data
    curation and recsys features both need: each event contributes
    1e6/(1+age_days) integer micro-units of score relative to the
    corpus's newest event, so yesterday's activity outweighs last
    month's without any exponential. The hyperbolic kernel is chosen
    for PORTABILITY, not convenience: exp()-decay needs libm (whose
    results differ across engines — the no-ln rule), while
    1000000 div (1+age) is pure integer arithmetic, and integer sums
    are associative — so the whole rollup is bit-exact everywhere.

    Scale: the max-ts anchor is a 1-row aggregate broadcast into a
    map-only weight projection (the tpch.py global-aggregate
    crossJoin motif); one hash aggregation with map-side partials
    keyed by event_type finishes. Nothing shuffles but partial
    sums."""
    e = table(spark, "events", sf_dir)
    mx = e.agg(F.max("ts").alias("max_ts"))
    w = e.crossJoin(F.broadcast(mx)).select(
        "event_type",
        F.expr(
            "1000000L div (1 + datediff(cast(max_ts as date), cast(ts as date)))"
        ).alias("wt"),
    )
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("wt").cast("long").alias("decayed_score"),
    )


_BUCKET_TARGET_ROWS = 4096

_BUCKET_ADVISOR_TABLES = [
    ("lineitem", "l_orderkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
]


def _bucket_advisor_oracle() -> str:
    mets = "\n      UNION ALL ".join(
        f"""SELECT '{t}' AS table_name, '{k}' AS key_name,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             MAX(cnt) AS max_key_rows
      FROM (SELECT {k}, COUNT(*) AS cnt FROM {t} GROUP BY 1)"""
        for t, k in _BUCKET_ADVISOR_TABLES
    )
    return f"""
    WITH powers AS (
      SELECT (CAST(1 AS BIGINT) << CAST(i AS INT)) AS p FROM range(31) t(i)),
    met AS (
      {mets})
    SELECT table_name, key_name, n_rows, n_keys, max_key_rows,
           max_key_rows * 1000000 // n_rows AS hot_key_ppm,
           (SELECT MIN(p) FROM powers
            WHERE p >= (n_rows + {_BUCKET_TARGET_ROWS - 1})
                       // {_BUCKET_TARGET_ROWS}) AS rec_buckets
    FROM met
    """


def bucket_recommendation(m: DataFrame, powers: DataFrame) -> DataFrame:
    """Attach the smallest satisfying power-of-two bucket count to a
    one-row metrics frame (columns ... , need). LEFT join: when no
    power of two <= 2^30 satisfies the need (n_rows > target * 2^30)
    the metrics row must still be emitted with rec_buckets NULL —
    matching the oracle's scalar-subquery semantics; an inner join
    would silently drop the whole row (round-8 advisor fix, unit-
    tested in tests/test_compare.py::test_bucket_recommendation_null
    since real test data cannot reach the overflow)."""
    return (
        m.join(F.broadcast(powers), F.col("p") >= F.col("need"), "left")
        .groupBy(
            "table_name",
            "key_name",
            "n_rows",
            "n_keys",
            "max_key_rows",
            "hot_key_ppm",
        )
        .agg(F.min("p").alias("rec_buckets"))
    )


@register("layout_bucket_advisor", oracle=_bucket_advisor_oracle())
def layout_bucket_advisor(spark, sf_dir) -> DataFrame:
    """Physical-design advisor for bucketed tables: for each
    prospective (table, join key), the exact key-cardinality metrics
    a layout decision needs — row/key counts, the hottest key's row
    count and its parts-per-million share (salting trigger), and a
    recommended bucket count (smallest power of two whose buckets
    average <= {4096} rows at test scale; production swaps the
    target for ~128 MB of rows). Powers of two keep bucket counts
    mutually divisible, so differently-sized tables can still
    co-locate (Spark requires compatible bucket counts to elide the
    shuffle — the zero-Exchange join that tests/test_plans.py pins
    for the bucketed-join key).

    Exactness: COUNT-derived integers end to end — the hot share is
    integer ppm (max*1000000 div n), the power-of-two ceiling comes
    from a 31-row shift-left table (no log2: libm differs across
    engines), min-joined per metrics row.

    Scale: one map-side-partial groupBy per analyzed key (the
    second-stage aggregate input is one row per key, already tiny);
    the powers table is 31 rows broadcast. At 100 TB this is the
    cheap pre-flight before an expensive one-time bucketed rewrite."""
    powers = spark.range(31).select(
        F.expr("shiftleft(1L, cast(id as int))").alias("p")
    )
    outs = []
    for t, k in _BUCKET_ADVISOR_TABLES:
        pk = (
            table(spark, t, sf_dir)
            .groupBy(F.col(k).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        m = pk.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("cnt").alias("n_rows"),
            F.max("cnt").alias("max_key_rows"),
        ).select(
            F.lit(t).alias("table_name"),
            F.lit(k).alias("key_name"),
            "n_rows",
            "n_keys",
            "max_key_rows",
            F.expr("max_key_rows * 1000000L div n_rows").alias("hot_key_ppm"),
            F.expr(
                f"(n_rows + {_BUCKET_TARGET_ROWS - 1}) div {_BUCKET_TARGET_ROWS}"
            ).alias("need"),
        )
        outs.append(bucket_recommendation(m, powers))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


_PARTITION_ADVISOR_CANDIDATES = [
    ("customer", "c_mktsegment"),
    ("documents", "lang"),
    ("documents", "source"),
    ("events", "event_type"),
    ("lineitem", "l_returnflag"),
    ("orders", "o_custkey"),
    ("orders", "o_orderpriority"),
    ("orders", "o_orderstatus"),
]

#: minimum average rows per partition value (test scale; production
#: swaps this for ~one 128 MB file's worth of rows)
_PARTITION_MIN_ROWS = 200
#: a single value holding more than this many ppm of the table makes
#: directory partitioning pointless (one giant partition dominates)
_PARTITION_HOT_PPM = 400_000


def _partition_advisor_oracle() -> str:
    mets = "\n      UNION ALL ".join(
        f"""SELECT '{t}' AS table_name, '{c}' AS column_name,
             CAST(COUNT(*) AS BIGINT) AS n_values,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             MAX(cnt) AS max_value_rows
      FROM (SELECT {c}, COUNT(*) AS cnt FROM {t} GROUP BY 1)"""
        for t, c in _PARTITION_ADVISOR_CANDIDATES
    )
    return f"""
    WITH met AS (
      {mets})
    SELECT table_name, column_name, n_rows, n_values, max_value_rows,
           max_value_rows * 1000000 // n_rows AS hot_value_ppm,
           n_rows // n_values AS rows_per_value,
           CASE WHEN max_value_rows * 1000000 // n_rows
                     > {_PARTITION_HOT_PPM} THEN 'too_skewed'
                WHEN n_rows // n_values
                     < {_PARTITION_MIN_ROWS} THEN 'too_granular'
                ELSE 'good' END AS verdict
    FROM met
    """


@register("layout_partition_advisor", oracle=_partition_advisor_oracle())
def layout_partition_advisor(spark, sf_dir) -> DataFrame:
    """Physical-design advisor for DIRECTORY PARTITIONING (the third
    layout tool beside Z-ordering and bucketing): for each candidate
    (table, column), the value-cardinality metrics a
    partitionBy-column decision needs and an integer-threshold
    verdict — 'too_skewed' when one value holds > {40}% of the rows
    (one giant partition dominates every scan, the others are
    pointless), 'too_granular' when the average partition would hold
    fewer than the target rows (the small-files death: directory
    partitioning multiplies file count by value cardinality —
    cf. persist.compact_artifact for the cure once it has happened;
    this advisor is the prevention), else 'good' (partition pruning
    pays: a filtered scan skips whole directories).

    Exactness: COUNT-derived integers end to end — hot share is
    integer ppm (max * 1000000 div n_rows), average partition size is
    one floor-division, the verdict a pure integer CASE; no doubles
    anywhere (the layout_bucket_advisor discipline).

    Scale: one map-side-partial groupBy per candidate column (the
    second-stage input is one row per value, already tiny); the
    candidate list is the analyst's shortlist, not a full-schema
    sweep. At 100 TB this is the cheap pre-flight before an
    expensive one-time partitioned rewrite — and the skew/granularity
    guards are exactly the two ways such rewrites fail in practice.

    Reference analog: none (the reference compares tables as-is);
    this industrializes the layout decisions its one-shot jobs never
    needed but a standing 100 TB corpus does."""
    outs = []
    for t, c in _PARTITION_ADVISOR_CANDIDATES:
        pv = (
            table(spark, t, sf_dir)
            .groupBy(F.col(c).alias("v"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        outs.append(
            pv.agg(
                F.count(F.lit(1)).alias("n_values"),
                F.sum("cnt").alias("n_rows"),
                F.max("cnt").alias("max_value_rows"),
            ).select(
                F.lit(t).alias("table_name"),
                F.lit(c).alias("column_name"),
                "n_rows",
                "n_values",
                "max_value_rows",
                F.expr("max_value_rows * 1000000L div n_rows").alias(
                    "hot_value_ppm"
                ),
                F.expr("n_rows div n_values").alias("rows_per_value"),
                F.expr(
                    f"""CASE WHEN max_value_rows * 1000000L div n_rows
                             > {_PARTITION_HOT_PPM} THEN 'too_skewed'
                        WHEN n_rows div n_values
                             < {_PARTITION_MIN_ROWS} THEN 'too_granular'
                        ELSE 'good' END"""
                ).alias("verdict"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


#: compaction-advisor fixture: (slot, n_files, n_rows, extra batch
#: file rows) — planted with exact per-partition row placement
#: (spark.range(..., numPartitions=n): one file per input partition),
#: so every census column is a literal in the oracle
_COMPACT_FIXTURE = [
    ("few_ok", 2, 2, None),
    ("many_small", 12, 12, None),
    ("stream_owned", 2, 2, 5),
]


def _compaction_advisor_oracle() -> str:
    from scribedb_spark.persist import compaction_advice

    rows = []
    for slot, n_files, n_rows, batch_rows in sorted(_COMPACT_FIXTURE):
        files = n_files + (1 if batch_rows else 0)
        total = n_rows + (batch_rows or 0)
        verdict, ideal = compaction_advice(
            files, total, stream_owned=batch_rows is not None
        )
        rows.append(
            f"('fixture/{slot}', CAST({files} AS BIGINT), "
            f"CAST({total} AS BIGINT), CAST({ideal} AS BIGINT), "
            f"'{verdict}')"
        )
    body = ",\n      ".join(rows)
    return f"""
    SELECT artifact, n_files, n_rows, ideal_files, verdict
    FROM (VALUES
      {body}
    ) AS t(artifact, n_files, n_rows, ideal_files, verdict)
    """


@register(
    "layout_compaction_advisor",
    oracle=_compaction_advisor_oracle(),
    gate=corpus_deps(),
)
def layout_compaction_advisor(spark, sf_dir) -> DataFrame:
    """The FOURTH layout advisor (beside Z-order, bucketing and
    directory partitioning), deciding WHEN persist.compact_artifact
    should run — the policy that turns the compaction mechanism into
    a lifecycle: per artifact, (n_files, n_rows from parquet footers,
    ideal file count at ~4M rows/file) and an integer-threshold
    verdict — 'compact' when the visible file count exceeds
    max(4, ideal) (per-file open/footer/listing costs dominate the
    scan — the streamed-append small-files death, or a historical
    many-partition write), 'stream_owned' when batch-* files are
    present (compaction there would break the stream's replay-delete
    guard; its own maintenance window owns the rewrite), else 'ok'.
    scripts/build_indexes.py applies exactly this policy to the real
    warehouse.

    Proven over a PLANTED fixture warehouse (the rollup_gc_census
    discipline): three slots with exact file placement — a
    right-sized artifact, a many-tiny-files artifact, and a
    stream-owned one — so the oracle pins every census column and
    verdict as literals computed from the SAME policy constants
    (persist.compaction_advice). The policy's threshold boundaries
    and the real compact-then-recheck round trip are pinned by unit
    tests in tests/test_persist.py.

    Scale: the census is driver-side footer metadata only (zero Spark
    jobs beyond the fixture write) — O(#artifacts x #files) stat
    calls at any corpus size, the rollup_artifact_catalog probing
    discipline. The fixture is planted from code constants, so the
    decision is a session constant: served via cache.gate_decision
    with an empty dependency list (one fixture round trip per
    session, not one per panel read)."""
    import os
    import shutil
    import tempfile

    from scribedb_spark.persist import artifact_file_census, compaction_advice

    root = tempfile.mkdtemp(prefix="compact_advisor_")
    try:
        snap = os.path.join(root, "fixture")
        for slot, n_files, n_rows, batch_rows in _COMPACT_FIXTURE:
            dest = os.path.join(snap, slot)
            spark.range(0, n_rows, 1, n_files).write.mode(
                "overwrite"
            ).parquet(dest)
            if batch_rows:
                stage = os.path.join(dest, "_advisor_stage")
                spark.range(0, batch_rows, 1, 1).write.mode(
                    "overwrite"
                ).parquet(stage)
                import glob

                part = sorted(
                    glob.glob(os.path.join(stage, "part-*.parquet"))
                )[0]
                os.replace(
                    part, os.path.join(dest, "batch-0-00000.parquet")
                )
                shutil.rmtree(stage, ignore_errors=True)
        rows = []
        for slot, _nf, _nr, _br in sorted(_COMPACT_FIXTURE):
            dest = os.path.join(snap, slot)
            n_files, n_rows, stream_owned = artifact_file_census(dest)
            verdict, ideal = compaction_advice(n_files, n_rows, stream_owned)
            rows.append((f"fixture/{slot}", n_files, n_rows, ideal, verdict))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "artifact string, n_files long, n_rows long, "
        "ideal_files long, verdict string",
    )


@register(
    "join_temporal_dim",
    oracle="""
    WITH src AS (
      SELECT user_id, event_type, ts, event_id FROM events
      WHERE event_type <> 'purchase'),
    tr AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_type
      FROM src
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    dim AS (
      SELECT user_id, event_type AS state, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM tr WHERE prev_type IS NULL OR prev_type <> event_type),
    fact AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase')
    SELECT f.event_id, f.user_id, f.ts,
           COALESCE(d.state, 'none') AS state_at_purchase
    FROM fact f
    LEFT JOIN dim d
      ON f.user_id = d.user_id
     AND d.valid_from <= f.ts
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    """,
)
def join_temporal_dim(spark, sf_dir) -> DataFrame:
    """Point-in-time dimension lookup — the standard star-schema
    temporal join: each purchase event fetches the dimension row
    (here: the user's browsing-state SCD2 history derived from the
    non-purchase stream, the scd2_history construction) whose
    validity interval contains the event timestamp. Purchases before
    any browsing activity resolve to 'none' (left join), and because
    per-user intervals tile the timeline (valid_to = next
    valid_from), every event matches at most one row — no fanout.

    Scale: user_id is a true equi-key, so this is a plain hash/SMJ
    shuffle join with the interval predicates as join filters —
    NEVER a BroadcastNestedLoopJoin (the trap with interval joins
    that lack an equi-key; cf. join_interval_overlap's epoch-binning
    for that case). The dimension side is run-head-compressed before
    the join (intervals, not raw events), and both windows in its
    derivation share one user_id exchange.

    Determinism: interval bounds and probes are exact microsecond
    instants; windows tie-break on event_id; boundary semantics are
    pure (<=, <) comparisons identical in both engines."""
    e = table(spark, "events", sf_dir)
    src = e.filter(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    heads = (
        src.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
    )
    dim = heads.select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    fact = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = fact.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("valid_from") <= F.col("ts"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        "left",
    )
    return j.select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce(F.col("state"), F.lit("none")).alias("state_at_purchase"),
    )


@register(
    "rollup_wau_sliding",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    spine AS (SELECT DISTINCT day FROM ud)
    SELECT CAST(s.day AS VARCHAR) AS day,
           COUNT(DISTINCT u.user_id) AS wau
    FROM spine s
    JOIN ud u ON u.day BETWEEN s.day - 6 AND s.day
    GROUP BY s.day
    """,
)
def rollup_wau_sliding(spark, sf_dir) -> DataFrame:
    """Trailing-7-day active users per day (the WAU curve) — the
    canonical sliding-window DISTINCT, which no SQL window frame can
    express (DISTINCT isn't frame-able) and a naive
    size(collect_set() OVER range-frame) would carry a growing set
    per row. Exact scalable rewrite: collapse to distinct (user, day)
    FIRST (map-side partial distinct — the only corpus-sized stage),
    then each user-day contributes to the 7 calendar days it keeps
    the user active in (a bounded 7-row date explode, not a range
    join), then one (day, user) distinct count.

    Observation-day spine: days with no events produce no row (the
    oracle joins the same spine); feed a calendar table for a gapless
    curve — the gap-filling variant is rollup_gapfill's job.

    Exactness: DATE truncation of exact microsecond instants and
    integer date arithmetic both engines share; counts only.

    Scale: shuffle volume is |distinct user-days| * 7 slim rows; the
    final distinct-count aggregates map-side. Skew: a viral day is
    bounded by |users|, and AQE splits oversized day partitions."""
    e = table(spark, "events", sf_dir)
    ud = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    fan = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("obs_day"),
    )
    spine = ud.select(F.col("day").alias("obs_day")).distinct()
    return (
        fan.join(spine, "obs_day")
        .groupBy(F.col("obs_day").cast("string").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )


@register(
    "rollup_cohort_ltv",
    oracle="""
    WITH p AS (
      SELECT user_id, CAST(ts AS DATE) AS day, value
      FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT user_id, day, value,
             MIN(day) OVER (PARTITION BY user_id) AS cohort_day
      FROM p)
    SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
           CAST((day - cohort_day) // 7 AS BIGINT) AS age_week,
           COUNT(DISTINCT user_id) AS n_buyers,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM c
    GROUP BY cohort_day, (day - cohort_day) // 7
    """,
)
def rollup_cohort_ltv(spark, sf_dir) -> DataFrame:
    """Cohort lifetime-value triangle: buyers grouped by their FIRST
    purchase day, revenue accumulated per week-of-age — the revenue
    sibling of rollup_retention's activity counts and the standard
    LTV-curve input (cohort rows, age columns, money cells).

    Exactness: cohort assignment is a date MIN (no float); age is
    integer day arithmetic div 7; revenue sums in DECIMAL(18,2)
    before the final double cast (the module's money rule).

    Scale: one user_id-partitioned window computes each purchase's
    cohort day (single exchange of purchase rows only — the
    event-type filter pushes to the scan), then a (cohort, age)
    hash aggregation with map-side partials. No self-joins; the
    window frame is per-user purchase history."""
    e = table(spark, "events", sf_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").cast("date").alias("day"), "value"
    )
    w = Window.partitionBy("user_id")
    c = p.withColumn("cohort_day", F.min("day").over(w))
    return (
        c.groupBy(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.expr("datediff(day, cohort_day) div 7").alias("age_week"),
        )
        .agg(
            F.countDistinct("user_id").alias("n_buyers"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "rollup_trend_slope",
    oracle="""
    WITH p AS (
      SELECT user_id,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
      FROM events WHERE event_type = 'purchase'),
    s AS (
      SELECT user_id,
             COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM p GROUP BY user_id)
    SELECT user_id, n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6)
             AS slope_cents_per_day
    FROM s
    WHERE n >= 2 AND n * sxx - sx * sx <> 0
    """,
)
def rollup_trend_slope(spark, sf_dir) -> DataFrame:
    """Per-user purchase-value trend: the least-squares slope of
    (day, value) — the drift-detection primitive behind "is this
    account's spend rising" (compare_col_drift's per-entity sibling).

    Exactness: the classic slope formula
    (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) is evaluated over INTEGERS ONLY
    — x = day offset from a fixed epoch, y = value in cents via
    floor(v*100 + 0.5) (floor, not ROUND: half-rounding conventions
    diverge across engines for negatives, floor never does). Integer
    sums are order-free, both cross-products stay far below 2^53, and
    the single double division is exactly rounded — so the slope is
    bit-identical with no tolerance.

    Scale: one hash aggregation over purchase rows with map-side
    partials (five integer partial sums per user), then a map-only
    projection. Degenerate users (one purchase, or all purchases the
    same day) are excluded — zero denominator."""
    e = table(spark, "events", sf_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    s = p.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        s.filter((F.col("n") >= 2) & (den != 0))
        .select(
            "user_id",
            "n",
            F.round(num.cast("double") / den.cast("double"), 6).alias(
                "slope_cents_per_day"
            ),
        )
    )


_COLFP_MOD = 2305843009213693951  # 2^61 - 1 (canonical.FP_MOD)

_COLFP_CELLS = {
    "o_custkey": "CAST(o_custkey AS VARCHAR)",
    "o_orderstatus": "o_orderstatus",
    "o_totalprice": "CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)",
    "o_orderpriority": "o_orderpriority",
}


def _colfp_oracle() -> str:
    def side(alias):
        branches = " UNION ALL ".join(
            f"SELECT '{c}' AS col_name, CAST(SUM(CAST(('0x' || substr("
            f"md5(CAST(o_orderkey AS VARCHAR) || ':' || COALESCE({expr}, chr(1))),"
            f" 1, 15)) AS BIGINT)) % {_COLFP_MOD} AS BIGINT) AS fp FROM {alias}"
            for c, expr in _COLFP_CELLS.items()
        )
        return branches

    return f"""
    WITH src AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderpriority FROM orders),
    tgt AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 1500 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 2000 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice,
             o_orderpriority
      FROM orders),
    sfp AS ({side('src')}),
    tfp AS ({side('tgt')})
    SELECT s.col_name, s.fp AS src_fp, t.fp AS tgt_fp,
           CAST(s.fp = t.fp AS INT) AS equal
    FROM sfp s JOIN tfp t ON s.col_name = t.col_name
    """


@register(
    "compare_col_fingerprint",
    oracle=_colfp_oracle(),
    serve=corpus_deps("orders"),
)
def compare_col_fingerprint(spark, sf_dir) -> DataFrame:
    """Column-level fingerprint drill: WHICH column diverged. The
    row/chunk fingerprints (fp_unordered / fp_chunk_hashes /
    fp_merkle) localize differences to chunks; this key localizes
    them to COLUMNS — per column, a commutative 60-bit md5 sum over
    '(key):(cell)' pairs, so the report pinpoints the divergent
    attribute without fetching a single row. Scenario: the target
    mutates o_orderstatus on key % 1500 and o_totalprice on key %
    2000 — exactly those two columns flag unequal.

    Exactness: cells render as VARCHAR/ BIGINT-cents (floor(x*100 +
    0.5), the module's money idiom — no %f formatting, whose rounding
    mode differs between JVM and C). Hash terms sum as DECIMAL(38,0)
    (HUGEINT in DuckDB) then reduce mod 2^61-1.

    Scale: ONE aggregation pass per side computes every column's fp
    (map-side partials, one scalar row out); the unpivot + join touch
    |columns| rows. Against a remote side, the same per-column sums
    push down as one SQL aggregate (keyed_remote_hash's shape, one
    round trip)."""
    cols = list(_COLFP_CELLS)
    o = table(spark, "orders", sf_dir).select("o_orderkey", *cols)
    tgt = o.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 1500 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    ).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 2000 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    )

    from scribedb_spark.compare import column_fingerprints

    def cell(c):
        if c == "o_totalprice":
            return F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long").cast("string")
        return F.col(c).cast("string")

    return column_fingerprints(
        o, tgt, ["o_orderkey"], cols=cols, cell_exprs={c: cell(c) for c in cols}
    ).select(
        "col_name",
        "src_fp",
        "tgt_fp",
        F.col("equal").cast("int").alias("equal"),
    )


@register(
    "profile_pk_violations",
    oracle="""
    SELECT l_orderkey, l_linenumber, COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_orderkey, l_linenumber
    HAVING COUNT(*) > 1
    """,
)
def profile_pk_violations(spark, sf_dir) -> DataFrame:
    """Primary-key violation report — the PREFLIGHT for every keyed
    compare path: keyed_diff/keyed-chunk modes require unique keys
    (compare.keyed_diff raises on duplicates), and this report is
    the actionable list of offending key tuples. Run on the driver
    corpus's known-non-unique pair (l_orderkey, l_linenumber) —
    the synthetic lineitem violates it by construction.

    Scale: one hash aggregation with map-side partials (HAVING is a
    post-agg filter on the combined counts); output is bounded by
    the number of VIOLATING keys, not table rows."""
    li = table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def _cell_drill_oracle() -> str:
    chunk = (
        "CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))"
        " AS BIGINT) % 16"
    )

    def side(alias):
        return " UNION ALL ".join(
            f"SELECT {chunk} AS chunk_id, '{c}' AS col_name,"
            f" CAST(SUM(CAST(('0x' || substr("
            f"md5(CAST(o_orderkey AS VARCHAR) || ':' || COALESCE({expr}, chr(1))),"
            f" 1, 15)) AS BIGINT)) % {_COLFP_MOD} AS BIGINT) AS fp"
            f" FROM {alias} GROUP BY 1"
            for c, expr in _COLFP_CELLS.items()
        )

    return f"""
    WITH src AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderpriority FROM orders),
    tgt AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 1500 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 2000 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice,
             o_orderpriority
      FROM orders),
    sfp AS ({side('src')}),
    tfp AS ({side('tgt')})
    SELECT s.chunk_id, s.col_name, s.fp AS src_fp, t.fp AS tgt_fp
    FROM sfp s JOIN tfp t
      ON s.chunk_id = t.chunk_id AND s.col_name = t.col_name
    WHERE s.fp <> t.fp
    """


@register(
    "compare_cell_drill",
    oracle=_cell_drill_oracle(),
    serve=corpus_deps("orders"),
)
def compare_cell_drill(spark, sf_dir) -> DataFrame:
    """The full drill MATRIX: (keyed chunk x column) fingerprints,
    reporting only the mismatched CELLS of the grid — fp_chunk_hashes
    answers "where in the table", compare_col_fingerprint answers
    "which attribute"; this intersects both, so the row re-fetch
    that follows is bounded to |hot chunks| x |hot columns| instead
    of either margin alone. Chunks are KEYED (hash(key) mod 16, the
    fp_keyed_chunks idiom) so the grid is incrementally maintainable.

    Scale: one aggregation pass per side grouped by chunk_id (16
    groups x |cols| sums, map-side partials), a |grid|-row unpivot
    and join. In the mutation scenario only (chunk, o_orderstatus)
    and (chunk, o_totalprice) cells containing mutated keys
    surface."""
    from scribedb_spark.canonical import keyed_chunk_id

    cols = list(_COLFP_CELLS)
    o = table(spark, "orders", sf_dir).select("o_orderkey", *cols)
    tgt = o.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 1500 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    ).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 2000 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    )

    def cell(c):
        if c == "o_totalprice":
            return F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long").cast("string")
        return F.col(c).cast("string")

    def cellfps(df, out):
        aggs = []
        for c in cols:
            term = F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("o_orderkey").cast("string"),
                            F.lit(":"),
                            F.coalesce(cell(c), F.lit("\x01")),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("decimal(38,0)")
            aggs.append(
                F.pmod(F.sum(term), F.lit(_COLFP_MOD)).cast("long").alias(c)
            )
        wide = df.withColumn(
            "chunk_id", keyed_chunk_id(F.col("o_orderkey"), 16)
        ).groupBy("chunk_id").agg(*aggs)
        stack_args = ", ".join(f"'{c}', {c}" for c in cols)
        return wide.select(
            "chunk_id",
            F.expr(f"stack({len(cols)}, {stack_args}) as (col_name, {out})"),
        )

    s = cellfps(o, "src_fp")
    t = cellfps(tgt, "tgt_fp")
    return (
        s.join(t, ["chunk_id", "col_name"])
        .filter(F.col("src_fp") != F.col("tgt_fp"))
        .select("chunk_id", "col_name", "src_fp", "tgt_fp")
    )


@register(
    "agg_mad_outliers",
    oracle="""
    WITH p AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('purchase', 'view', 'click')),
    r AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM p),
    m AS (
      SELECT event_type, n, SUM(cents) AS s, COUNT(*) AS c
      FROM r WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
      GROUP BY event_type, n),
    med AS (
      SELECT event_type, n,
             CASE WHEN c = 1 THEN 2 * s ELSE s END AS med2x FROM m),
    d AS (
      SELECT r.event_type, r.n, med.med2x,
             abs(2 * r.cents - med.med2x) AS dev2x
      FROM r JOIN med ON med.event_type = r.event_type),
    r2 AS (
      SELECT event_type, n, med2x, dev2x,
             row_number() OVER (PARTITION BY event_type ORDER BY dev2x) AS rn2
      FROM d),
    m2 AS (
      SELECT event_type, SUM(dev2x) AS s2, COUNT(*) AS c2
      FROM r2 WHERE rn2 IN ((n + 1) // 2, (n + 2) // 2)
      GROUP BY event_type),
    mad AS (
      SELECT event_type,
             CASE WHEN c2 = 1 THEN 2 * s2 ELSE s2 END AS mad4x FROM m2),
    fin AS (
      SELECT d.event_type, d.n, d.med2x, mad.mad4x,
             SUM(CASE WHEN 2 * d.dev2x > 3 * mad.mad4x
                      THEN 1 ELSE 0 END) AS n_outliers
      FROM d JOIN mad ON mad.event_type = d.event_type
      GROUP BY 1, 2, 3, 4)
    SELECT event_type, n AS n_events,
           ROUND(CAST(med2x AS DOUBLE) / 2 / 100, 6) AS median_value,
           ROUND(CAST(mad4x AS DOUBLE) / 4 / 100, 6) AS mad_value,
           CAST(n_outliers AS BIGINT) AS n_outliers
    FROM fin
    """,
)
def agg_mad_outliers(spark, sf_dir) -> DataFrame:
    """Robust outlier census per event type via median absolute
    deviation — the heavy-tail-safe alternative to
    ``agg_zscore_outliers`` (one planted whale corrupts a mean/std
    fence; the MAD fence shrugs). Flags values with
    |x - median| > 3 * MAD, all computed EXACTLY in scaled integers:
    the median rides the agg_median_exact rank formula kept at 2x
    scale (sum of the two middle cents, or twice the single middle),
    deviations are |2*cents - med2x| integers, their median lands at
    4x scale, and the fence compare is the integer inequality
    2*dev2x > 3*mad4x — no float enters until the two display
    columns (left-associated divide chains + ROUND 6, the median
    pattern).

    Scale: two rank windows keyed by event_type (the same shuffle
    key twice — partitioning reuse), two tiny per-type aggregate
    joins (AQE broadcasts them), one final count aggregation."""
    e = table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("purchase", "view", "click")
    )
    p = e.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    wn = Window.partitionBy("event_type")
    r = p.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mid = (F.col("rn") == F.expr("(n + 1) div 2")) | (
        F.col("rn") == F.expr("(n + 2) div 2")
    )
    m = (
        r.filter(mid)
        .groupBy("event_type", "n")
        .agg(F.sum("cents").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    med = m.select(
        "event_type",
        "n",
        F.when(F.col("c") == 1, 2 * F.col("s")).otherwise(F.col("s")).alias(
            "med2x"
        ),
    )
    # med/mad are bounded by the event-type DOMAIN (one row per type),
    # not corpus size — the explicit broadcast is safe at any scale
    d = r.join(F.broadcast(med.drop("n")), "event_type").select(
        "event_type",
        "n",
        "med2x",
        F.abs(2 * F.col("cents") - F.col("med2x")).alias("dev2x"),
    )
    w2 = Window.partitionBy("event_type").orderBy("dev2x")
    r2 = d.withColumn("rn2", F.row_number().over(w2))
    mid2 = (F.col("rn2") == F.expr("(n + 1) div 2")) | (
        F.col("rn2") == F.expr("(n + 2) div 2")
    )
    m2 = (
        r2.filter(mid2)
        .groupBy("event_type")
        .agg(F.sum("dev2x").alias("s2"), F.count(F.lit(1)).alias("c2"))
    )
    mad = m2.select(
        "event_type",
        F.when(F.col("c2") == 1, 2 * F.col("s2"))
        .otherwise(F.col("s2"))
        .alias("mad4x"),
    )
    fin = (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "n", "med2x", "mad4x")
        .agg(
            F.sum(
                F.when(2 * F.col("dev2x") > 3 * F.col("mad4x"), 1).otherwise(0)
            ).alias("n_outliers")
        )
    )
    return fin.select(
        "event_type",
        F.col("n").alias("n_events"),
        F.round(F.col("med2x").cast("double") / 2 / 100, 6).alias(
            "median_value"
        ),
        F.round(F.col("mad4x").cast("double") / 4 / 100, 6).alias("mad_value"),
        F.col("n_outliers").cast("long").alias("n_outliers"),
    )


def _cell_incr_oracle() -> str:
    chunk = (
        "CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))"
        " AS BIGINT) % 16"
    )
    grid = " UNION ALL ".join(
        f"SELECT {chunk} AS chunk_id, '{c}' AS col_name,"
        f" CAST(SUM(CAST(('0x' || substr("
        f"md5(CAST(o_orderkey AS VARCHAR) || ':' || COALESCE({expr}, chr(1))),"
        f" 1, 15)) AS BIGINT)) % {_COLFP_MOD} AS BIGINT) AS fp"
        f" FROM tgt GROUP BY 1"
        for c, expr in _COLFP_CELLS.items()
    )
    return f"""
    WITH tgt AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 2000 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice,
             o_orderpriority
      FROM orders)
    {grid}
    """


@register("compare_cell_incremental", oracle=_cell_incr_oracle())
def compare_cell_incremental(spark, sf_dir) -> DataFrame:
    """Incremental MAINTENANCE of the (keyed chunk x column)
    fingerprint grid — the follow-through on compare_cell_drill's
    "keyed chunks keep the grid incrementally maintainable" claim,
    and the grid form of fp_incremental_update's delta algebra:
    because every cell is a SUM of per-row md5 terms, an update batch
    patches the persisted grid as

        cell' = cell - terms(old row images) + terms(new row images)

    touching O(|delta|) rows instead of rescanning the table. The
    key emits the MAINTAINED grid after applying a price mutation to
    every 2000th order; the DuckDB oracle recomputes the grid FROM
    SCRATCH on the mutated table — hash equality of the two IS the
    proof that the algebra composes exactly (sums stay unreduced
    DECIMAL(38,0); the 2^61-1 reduction happens only at emit).

    Scale: the base grid is one aggregation pass (16 chunks x |cols|
    map-side partial sums); each delta branch aggregates only delta
    rows; the merge is a 64-row-per-branch union groupBy. At 100 TB
    the base grid is a persisted 64-row table and only the delta
    branches run per batch."""
    from scribedb_spark.canonical import keyed_chunk_id

    cols = list(_COLFP_CELLS)
    o = table(spark, "orders", sf_dir).select("o_orderkey", *cols)

    def cell(c):
        if c == "o_totalprice":
            return (
                F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long").cast("string")
            )
        return F.col(c).cast("string")

    def grid_terms(df, sign):
        aggs = []
        for c in cols:
            term = F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("o_orderkey").cast("string"),
                            F.lit(":"),
                            F.coalesce(cell(c), F.lit("\x01")),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("decimal(38,0)")
            aggs.append((F.sum(term) * sign).alias(c))
        wide = (
            df.withColumn("chunk_id", keyed_chunk_id(F.col("o_orderkey"), 16))
            .groupBy("chunk_id")
            .agg(*aggs)
        )
        stack_args = ", ".join(f"'{c}', {c}" for c in cols)
        return wide.select(
            "chunk_id",
            F.expr(f"stack({len(cols)}, {stack_args}) as (col_name, fp_sum)"),
        )

    # the base grid is the PERSISTED artifact at 100 TB (64 rows) —
    # build it once per session (the merkle-cache discipline) so the
    # steady-state cost is the delta branches, as the docstring claims
    base = session_cache(
        spark,
        ("cell_grid", sf_dir),
        lambda: grid_terms(o, 1).localCheckpoint(),
        deps=corpus_deps("orders")(sf_dir),
    )
    delta_keys = F.col("o_orderkey") % 2000 == 0
    old_rows = o.filter(delta_keys)
    new_rows = old_rows.withColumn(
        "o_totalprice", F.col("o_totalprice") + 1
    )
    maintained = (
        base.unionByName(grid_terms(old_rows, -1))
        .unionByName(grid_terms(new_rows, 1))
        .groupBy("chunk_id", "col_name")
        .agg(F.sum("fp_sum").alias("fp_sum"))
    )
    return maintained.select(
        "chunk_id",
        "col_name",
        F.pmod(F.col("fp_sum"), F.lit(_COLFP_MOD)).cast("long").alias("fp"),
    )


def _drill_rows_oracle() -> str:
    chunk = (
        "CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))"
        " AS BIGINT) % 16"
    )
    rowtext = (
        "CAST(o_orderkey AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR)"
        " || ':' || o_orderstatus || ':' || CAST(cents AS VARCHAR)"
        " || ':' || o_orderpriority"
    )
    fp = (
        f"CAST(SUM(CAST(('0x' || substr(md5({rowtext}), 1, 15)) AS BIGINT))"
        f" % {_COLFP_MOD} AS BIGINT)"
    )
    return f"""
    WITH src AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderpriority, {chunk} AS chunk_id
      FROM orders),
    tgt AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 1500 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
               + CASE WHEN o_orderkey % 2000 = 0 THEN 100 ELSE 0 END AS cents,
             o_orderpriority, {chunk} AS chunk_id
      FROM orders),
    sfp AS (SELECT chunk_id, {fp} AS fp FROM src GROUP BY chunk_id),
    tfp AS (SELECT chunk_id, {fp} AS fp FROM tgt GROUP BY chunk_id),
    hot AS (
      SELECT s.chunk_id FROM sfp s JOIN tfp t ON s.chunk_id = t.chunk_id
      WHERE s.fp <> t.fp),
    srows AS (SELECT o_orderkey, o_custkey, o_orderstatus, cents,
                     o_orderpriority
              FROM src WHERE chunk_id IN (SELECT chunk_id FROM hot)),
    trows AS (SELECT o_orderkey, o_custkey, o_orderstatus, cents,
                     o_orderpriority
              FROM tgt WHERE chunk_id IN (SELECT chunk_id FROM hot))
    SELECT 'src' AS side, * FROM (
      SELECT * FROM srows EXCEPT ALL SELECT * FROM trows)
    UNION ALL
    SELECT 'tgt' AS side, * FROM (
      SELECT * FROM trows EXCEPT ALL SELECT * FROM srows)
    """


@register(
    "compare_drill_rows",
    oracle=_drill_rows_oracle(),
    serve=corpus_deps("orders"),
)
def compare_drill_rows(spark, sf_dir) -> DataFrame:
    """The last mile of the drill cascade — after fp_merkle answers
    "which subtree", compare_cell_drill answers "which (chunk,
    column) cells", THIS key fetches the actual differing ROWS, and
    the fetch is BOUNDED BY HOT CHUNKS: both sides' keyed-chunk row
    fingerprints are compared first (16-row tables), only chunks
    whose fingerprints disagree are re-read, and the symmetric
    exceptAll diff runs on those chunks alone. The reference fetches
    diff rows by re-querying whole chunk windows (ref
    main.py:228-247); here the chunk restriction is a semi join
    against the hot-chunk list, which at 100 TB is partition pruning
    on the persisted chunk-keyed layout — the row scan touches
    O(hot chunks / 16) of the table, not all of it.

    Exactness: rows render once into the shared md5-term text (money
    as integer cents — the no-%f rule), fingerprints are 60-bit sums
    mod 2^61-1, and the row diff is exceptAll on scalar-rendered
    columns — all string/integer ops, both engines identical.

    Scale: two one-pass chunk-fp aggregations (map-side partials,
    16-row outputs), one broadcast semi join per side, exceptAll on
    the hot subset only (output bounded by actual differing rows)."""
    from scribedb_spark.canonical import keyed_chunk_id

    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    # each side feeds BOTH the fingerprint pass and the row fetch —
    # checkpoint the rendered base once so the plan reads the scan
    # once, not four times (at scale both sides are persisted tables
    # and the fp pass reads a precomputed 16-row artifact)
    base = (
        table(spark, "orders", sf_dir)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            cents.alias("cents"),
            "o_orderpriority",
            keyed_chunk_id(F.col("o_orderkey"), 16).alias("chunk_id"),
        )
        .localCheckpoint()
    )
    tgt = base.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 1500 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    ).withColumn(
        "cents",
        F.col("cents")
        + F.when(F.col("o_orderkey") % 2000 == 0, F.lit(100)).otherwise(
            F.lit(0)
        ),
    )
    rowtext = F.concat_ws(
        ":",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("cents").cast("string"),
        F.col("o_orderpriority"),
    )
    term = F.conv(F.substring(F.md5(rowtext), 1, 15), 16, 10).cast(
        "decimal(38,0)"
    )

    def chunk_fp(df):
        return df.groupBy("chunk_id").agg(
            F.pmod(F.sum(term), F.lit(_COLFP_MOD)).cast("long").alias("fp")
        )

    sfp = chunk_fp(base)
    tfp = chunk_fp(tgt)
    hot = (
        sfp.alias("s")
        .join(tfp.alias("t"), "chunk_id")
        .filter(F.col("s.fp") != F.col("t.fp"))
        .select("chunk_id")
    )
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "cents",
            "o_orderpriority"]
    srows = base.join(F.broadcast(hot), "chunk_id", "left_semi").select(*cols)
    trows = tgt.join(F.broadcast(hot), "chunk_id", "left_semi").select(*cols)
    return (
        srows.exceptAll(trows).select(F.lit("src").alias("side"), *cols)
    ).unionByName(
        trows.exceptAll(srows).select(F.lit("tgt").alias("side"), *cols)
    )


@register(
    "agg_median_exact",
    oracle="""
    WITH p AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('purchase', 'view', 'click')),
    r AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM p),
    sel AS (
      SELECT event_type, n,
             SUM(cents) AS s, COUNT(*) AS c
      FROM r
      WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
      GROUP BY event_type, n)
    SELECT event_type, n AS n_events,
           ROUND(CAST(s AS DOUBLE) / c / 100, 6) AS median_value
    FROM sel
    """,
)
def agg_median_exact(spark, sf_dir) -> DataFrame:
    """EXACT median (not percentile_approx) per event type, spelled
    out as the rank-selection formula so it is identical in any
    engine: values fix to integer cents, the middle one (odd n) or
    middle two (even n) ranks select by row_number, and the median is
    their mean. Engine built-ins disagree here — Spark's
    percentile_approx is sketched, and engines differ on
    interpolation conventions — so the portable definition IS the
    formula.

    Exactness: cents are floor-rounded integers; the only float ops
    are the final two left-associated IEEE divides (identical
    expression shape both engines) plus ROUND 6. Ties need no
    tiebreak: equal cents are interchangeable at the selected ranks.

    Scale: one shuffle keyed by event_type for the rank window, then
    a 2-rows-per-group aggregation. A 100 TB variant would swap the
    global per-key sort for the two-pass quantile-by-count scheme
    (global_row_number's offset table per key); the per-key window is
    the |key-group|-bounded form."""
    e = table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("purchase", "view", "click")
    )
    p = e.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    wn = Window.partitionBy("event_type")
    r = p.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    sel = (
        r.filter(
            (F.col("rn") == F.expr("(n + 1) div 2"))
            | (F.col("rn") == F.expr("(n + 2) div 2"))
        )
        .groupBy("event_type", "n")
        .agg(F.sum("cents").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    return sel.select(
        "event_type",
        F.col("n").alias("n_events"),
        F.round(F.col("s").cast("double") / F.col("c") / 100, 6).alias(
            "median_value"
        ),
    )


_QUANTILE_GRID = (25, 50, 75, 95)


@register(
    "agg_quantile_grid",
    oracle="""
    WITH p AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('purchase', 'view', 'click')),
    r AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM p),
    sel AS (
      SELECT event_type, n,
    """
    + ",\n".join(
        f"MAX(CASE WHEN rn = (n * {q} + 99) // 100 THEN cents END) AS c{q}"
        for q in _QUANTILE_GRID
    )
    + """
      FROM r GROUP BY event_type, n)
    SELECT event_type, n AS n_events,
    """
    + ",\n".join(
        f"CAST(c{q} AS DOUBLE) / 100 AS p{q}" for q in _QUANTILE_GRID
    )
    + """
    FROM sel
    """,
)
def agg_quantile_grid(spark, sf_dir) -> DataFrame:
    """EXACT p25/p50/p75/p95 per event type in ONE rank-window pass —
    the latency-dashboard staple, spelled as type-1 rank selection
    (smallest value with rank >= ceil(q*n), rank computed in integer
    arithmetic as (n*q + 99) // 100) so every engine lands on the
    identical cents value: no interpolation convention, no sketch
    (percentile_approx), no float sums. The whole grid rides the SAME
    window as ``agg_median_exact`` — adding quantiles costs one CASE
    column each, not another shuffle.

    Exactness: integer ranks select integer cents; the only float op
    is one exactly-rounded IEEE divide per output column (identical
    expression shape both engines — no ROUND needed).

    Scale: one shuffle keyed by event_type for the rank window, then
    a |grid|-columns conditional aggregation with map-side partials.
    The 100 TB swap is the same as the median's: two-pass
    quantile-by-count offsets instead of a per-key global sort."""
    e = table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("purchase", "view", "click")
    )
    p = e.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    wn = Window.partitionBy("event_type")
    r = p.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    sel = r.groupBy("event_type", "n").agg(
        *[
            F.max(
                F.when(
                    F.col("rn") == F.expr(f"(n * {q} + 99) div 100"),
                    F.col("cents"),
                )
            ).alias(f"c{q}")
            for q in _QUANTILE_GRID
        ]
    )
    return sel.select(
        "event_type",
        F.col("n").alias("n_events"),
        *[
            (F.col(f"c{q}").cast("double") / 100).alias(f"p{q}")
            for q in _QUANTILE_GRID
        ],
    )


@register(
    "rollup_activity_streaks",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    g AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INT) AS grp
      FROM d),
    s AS (
      SELECT user_id, grp, COUNT(*) AS len FROM g GROUP BY user_id, grp)
    SELECT user_id,
           COUNT(*) AS n_streaks,
           MAX(len) AS max_streak,
           CAST(SUM(len) AS BIGINT) AS active_days
    FROM s GROUP BY user_id
    """,
)
def rollup_activity_streaks(spark, sf_dir) -> DataFrame:
    """Consecutive-day activity streaks per user — the classic
    gaps-and-islands rollup (retention's engagement sibling): distinct
    active days, island id = day minus the day's per-user rank (a
    constant within each consecutive run), then per-user streak
    stats (count, longest, total active days).

    Exactness: pure date/integer arithmetic — date_sub by an integer
    rank both engines.

    Scale: the distinct collapse is the only corpus-sized stage
    (map-side partial); the rank window and both aggregations are
    keyed by user_id. No joins, no self-reference — the islands
    trick replaces the naive self-join formulation."""
    e = table(spark, "events", sf_dir)
    d = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.select(
        "user_id",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("grp"),
    )
    s = g.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("max_streak"),
        F.sum("len").alias("active_days"),
    )


@register(
    "agg_distinct_bitmap",
    oracle="""
    WITH words AS (
      SELECT event_type, user_id // 63 AS w,
             bit_or(1::BIGINT << CAST(user_id % 63 AS INT)) AS word
      FROM events GROUP BY event_type, user_id // 63)
    SELECT event_type,
           CAST(SUM(bit_count(word)) AS BIGINT) AS n_users
    FROM words GROUP BY event_type
    """,
)
def agg_distinct_bitmap(spark, sf_dir) -> DataFrame:
    """EXACT distinct-user counts via bitmap words — the scale
    alternative to COUNT(DISTINCT): ids pack into 63-bit words
    (id div 63 -> word index, id mod 63 -> bit; 63 not 64 because a
    1<<63 BIGINT overflows DuckDB's checked shift), words combine
    with bit_or (map-side partial, idempotent — duplicate ids are
    absorbed, never counted), popcounts sum per group. Two
    aggregations whose shuffled state is the BITMAP (bounded by
    |id-universe|/63 words per group), where COUNT(DISTINCT) shuffles
    every distinct id and Expand-multiplies rows when combined with
    other aggregates (rollup_dataset_card's cost shape).

    Exactness: integer shifts/or/popcount — bit-identical anywhere.

    Scale: this is the roaring-bitmap pattern engines ship natively;
    word state is dense here (synthetic ids are compact), a sparse id
    universe would hash ids into a fixed space first (then it becomes
    the linear-counting sketch, still exact below saturation)."""
    e = table(spark, "events", sf_dir)
    words = (
        e.select(
            "event_type",
            F.expr("user_id div 63").alias("w"),
            F.expr("shiftleft(1L, cast(user_id % 63 as int))").alias("bit"),
        )
        .groupBy("event_type", "w")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).alias("n_users")
    )


@register(
    "profile_fk_orphans",
    oracle="""
    WITH lo AS (
      SELECT COUNT(*) AS n FROM lineitem l
      LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey IS NULL),
    oc AS (
      SELECT COUNT(*) AS n FROM orders o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey IS NULL),
    ps AS (
      SELECT COUNT(*) AS n FROM lineitem l
      LEFT JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_partkey IS NULL)
    SELECT 'lineitem->orders' AS fk, n AS n_orphans FROM lo
    UNION ALL SELECT 'orders->customer', n FROM oc
    UNION ALL SELECT 'lineitem->part', n FROM ps
    """,
)
def profile_fk_orphans(spark, sf_dir) -> DataFrame:
    """Referential-integrity audit: orphan counts for the fact->dim
    foreign keys — rows whose FK matches nothing on the other side.
    The third data-quality preflight next to profile_pk_violations
    (key uniqueness) and compare_schema_compat (shape): a keyed
    compare whose join keys are broken reports garbage, so audit the
    keys first.

    Scale: each check is one anti-join (left_anti — no row payload
    crosses, only keys); dim sides broadcast when small, AQE decides
    otherwise. Checks run as independent branches unioned at the
    scalar-count level (3 rows total)."""
    li = table(spark, "lineitem", sf_dir)
    o = table(spark, "orders", sf_dir)
    c = table(spark, "customer", sf_dir)
    p = table(spark, "part", sf_dir)

    def orphans(fact, fk, dim, pk, label):
        n = (
            fact.select(F.col(fk))
            .join(dim.select(F.col(pk).alias(fk)), fk, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        return n.select(F.lit(label).alias("fk"), "n_orphans")

    return (
        orphans(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionByName(orphans(o, "o_custkey", c, "c_custkey", "orders->customer"))
        .unionByName(orphans(li, "l_partkey", p, "p_partkey", "lineitem->part"))
    )


_JOIN_CARD_PAIRS = [
    ("customer_orders", "customer", "c_custkey", "orders", "o_custkey"),
    ("orders_lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("customer_events", "customer", "c_custkey", "events", "user_id"),
    ("part_lineitem", "part", "p_partkey", "lineitem", "l_partkey"),
]

_JOIN_CARD_BUCKET_SQL = """CASE WHEN cr = 0 THEN '0'
                WHEN cr = 1 THEN '1'
                WHEN cr <= 10 THEN '2-10'
                WHEN cr <= 100 THEN '11-100'
                ELSE '100+' END"""


def _join_cardinality_oracle() -> str:
    arms = "\n    UNION ALL ".join(
        f"""SELECT '{name}' AS join_name, {_JOIN_CARD_BUCKET_SQL} AS fanout_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cl) AS BIGINT) AS n_left_rows,
           CAST(SUM(cl * cr) AS BIGINT) AS n_out_rows
    FROM (SELECT l.cl, COALESCE(r.cr, 0) AS cr
          FROM (SELECT {lk} AS k, COUNT(*) AS cl FROM {lt} GROUP BY 1) l
          LEFT JOIN (SELECT {rk} AS k, COUNT(*) AS cr FROM {rt}
                     GROUP BY 1) r ON l.k = r.k)
    GROUP BY 2"""
        for name, lt, lk, rt, rk in _JOIN_CARD_PAIRS
    )
    return f"\n    {arms}\n    "


@register("profile_join_cardinality", oracle=_join_cardinality_oracle())
def profile_join_cardinality(spark, sf_dir) -> DataFrame:
    """Join-FANOUT census — the pre-flight that predicts join blowup
    before it happens: for each prospective (left, right) equi-join,
    the distribution of right-side matches per left key, bucketed
    (0 = anti rows / broken FK, 1 = clean 1:1, 2-10, 11-100, 100+ =
    the multiplicative fanout that turns a 100 TB join into an
    output explosion), with the exact left-row and OUTPUT-row mass
    per bucket (n_out = sum over keys of cl*cr — what the join will
    actually emit). The fourth data-quality preflight next to
    profile_pk_violations (uniqueness), profile_fk_orphans (broken
    keys — this key's 0-bucket generalizes it with row mass) and
    layout_partition_advisor/layout_bucket_advisor (layout): the
    reference joins datasets blindly and pages through whatever
    comes back; a 100 TB engine sizes the output FIRST.

    Exactness: COUNT/SUM integers end to end; buckets are a pure
    integer CASE; cl*cr stays far under int64 at any real
    cardinality (overflow needs ~3e9 x 3e9 on one key).

    Scale: per join, two map-side-partial key-count groupBys (the
    join itself never runs — only key-grain counts shuffle, no row
    payload) and one key-grain left join whose both sides are
    distinct-key-sized; the census output is <= 5 rows per join.
    This is exactly how engines estimate join selectivity, made
    exact and queryable."""
    outs = []
    for name, lt, lk, rt, rk in _JOIN_CARD_PAIRS:
        lc = (
            table(spark, lt, sf_dir)
            .groupBy(F.col(lk).alias("k"))
            .agg(F.count(F.lit(1)).alias("cl"))
        )
        rc = (
            table(spark, rt, sf_dir)
            .groupBy(F.col(rk).alias("k"))
            .agg(F.count(F.lit(1)).alias("cr"))
        )
        g = lc.join(rc, "k", "left").select(
            "cl", F.coalesce(F.col("cr"), F.lit(0)).alias("cr")
        )
        outs.append(
            g.groupBy(
                F.expr(_JOIN_CARD_BUCKET_SQL).alias("fanout_bucket")
            )
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("cl").alias("n_left_rows"),
                F.sum(F.expr("cl * cr")).alias("n_out_rows"),
            )
            .select(
                F.lit(name).alias("join_name"),
                "fanout_bucket",
                F.col("n_keys").cast("long"),
                F.col("n_left_rows").cast("long"),
                F.col("n_out_rows").cast("long"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register(
    "rollup_growth_wow",
    oracle="""
    WITH w AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS wk,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    g AS (
      SELECT event_type, wk, n,
             lag(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev
      FROM w)
    SELECT event_type, wk, n,
           COALESCE(prev, 0) AS prev_n,
           CASE WHEN prev IS NULL OR prev = 0 THEN -1.0
                ELSE ROUND(CAST(n AS DOUBLE) / prev, 6) END AS wow_ratio
    FROM g
    """,
)
def rollup_growth_wow(spark, sf_dir) -> DataFrame:
    """Week-over-week growth per event type — the monitoring curve
    behind every launch dashboard: weekly counts (integer week index
    anchored at a fixed epoch, integer div), lag window for the prior
    week, ratio as one IEEE divide of exact integers (ROUND 6;
    missing/zero prior weeks report -1, not NULL — driver-sortable
    scalars).

    Scale: one map-side-partial aggregation to week grain (the only
    corpus-sized stage), then a window over the tiny
    (event_type, week) frame."""
    e = table(spark, "events", sf_dir)
    w = (
        e.select(
            "event_type",
            F.expr(
                "datediff(cast(ts as date), date'2024-01-01') div 7"
            ).alias("wk"),
        )
        .groupBy("event_type", "wk")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    win = Window.partitionBy("event_type").orderBy("wk")
    g = w.withColumn("prev", F.lag("n").over(win))
    return g.select(
        "event_type",
        "wk",
        "n",
        F.coalesce(F.col("prev"), F.lit(0)).cast("long").alias("prev_n"),
        F.when(
            F.col("prev").isNull() | (F.col("prev") == 0), F.lit(-1.0)
        )
        .otherwise(F.round(F.col("n").cast("double") / F.col("prev"), 6))
        .alias("wow_ratio"),
    )


@register(
    "setop_except_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_totalprice > 100000
    """,
)
def setop_except_all(spark, sf_dir) -> DataFrame:
    """Bag-semantics EXCEPT ALL (multiplicity-preserving difference)
    — the setop the reference's Python set()-of-tuples diff CANNOT
    express (reference main.py:126-129 collapses duplicates; SURVEY
    §1.1): a customer with three 'F' orders and one large order keeps
    TWO rows here. Completes the setop family next to except_sym /
    except_distinct / intersect / intersect_all / union.

    Scale: Spark plans exceptAll as one union + per-side multiplicity
    counts + sequence re-expansion — a single shuffle, the same motif
    as the engine's symmetric diff."""
    o = table(spark, "orders", sf_dir)
    a = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.exceptAll(b)


# ---------------------------------------------------------------------------
# IBLT set reconciliation — constant-size exchange, O(d) decode
# ---------------------------------------------------------------------------

#: IBLT cell count. The asymptotic 3-hash decode threshold is ~0.8 *
#: _IBLT_CELLS differing items, but finite tables grow small 2-cores
#: near it — size for the ENGINEERING margin cells >= 1.5 * expected
#: diff (changed rows count twice: one item per side; the <= 2/3-load
#: point is test-pinned). Real deployments size this to the diff
#: BUDGET (the reference's ROW_LIMIT analog) and fall back to the
#: merkle drill when the table is "too different to enumerate
#: cheaply".
_IBLT_CELLS = 8192
_IBLT_HASHES = 3

#: adaptive-mode ceiling: above this the diff is "too different to
#: enumerate cheaply" — callers are pointed at the merkle drill. The
#: cell table is SPARSE (cancelled cells never ship), so a generous
#: budget costs nothing when the diff is small; the cap only bounds
#: the worst-case driver peel.
_IBLT_AUTO_CAP = 1 << 21


def _iblt_oracle() -> str:
    return """
    WITH base AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderpriority, o_orderstatus
      FROM orders),
    src AS (SELECT * FROM base WHERE o_orderkey % 3000 <> 0),
    tgt AS (
      SELECT o_orderkey,
             cents + CASE WHEN o_orderkey % 1000 = 0 THEN 100 ELSE 0 END
               AS cents,
             CASE WHEN o_orderkey % 700 = 0 THEN 'X-' || o_orderpriority
                  ELSE o_orderpriority END AS o_orderpriority,
             o_orderstatus
      FROM base WHERE o_orderkey % 2000 <> 0),
    j AS (
      SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
             CASE WHEN s.o_orderkey IS NULL THEN 'added'
                  WHEN t.o_orderkey IS NULL THEN 'removed'
                  WHEN s.cents IS DISTINCT FROM t.cents
                    OR s.o_orderpriority IS DISTINCT FROM t.o_orderpriority
                    OR s.o_orderstatus IS DISTINCT FROM t.o_orderstatus
                    THEN 'changed' END AS change
      FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey)
    SELECT o_orderkey, change FROM j WHERE change IS NOT NULL
    """


def _iblt_sub(cells: int | None = None) -> int:
    """Per-subtable size of the PARTITIONED construction: hash i maps
    into the disjoint range [i*sub, (i+1)*sub), so an item's three
    cells are always distinct. The unpartitioned variant lets all
    three indexes collide into ONE cell (prob ~(1/m)^2 per item but
    deterministic for a given key) — that cell holds count +-3, never
    turns pure, and decode stalls even on a tiny diff. Read at call
    time so tests can shrink _IBLT_CELLS; ``cells`` overrides the
    module default (the adaptive two-pass mode sizes per diff)."""
    return max(1, (cells or _IBLT_CELLS) // _IBLT_HASHES)


def _iblt_cell_exprs(key, fp, cells: int | None = None):
    """The _IBLT_HASHES cell indexes + the checksum for one item, as
    portable md5-over-decimal-string expressions (the same strings
    hashlib.md5 reproduces driver-side during peeling). Partitioned
    subtables: index i lives in [i*sub, (i+1)*sub)."""
    sub = _iblt_sub(cells)
    cells = [
        F.lit(i * sub)
        + F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        key.cast("string"),
                        fp.cast("string"),
                        F.lit(str(i)),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % sub
        for i in range(_IBLT_HASHES)
    ]
    chk = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", key.cast("string"), fp.cast("string"), F.lit("chk")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return cells, chk


def _iblt_hash_py(key: int, fp: int, i, n_cells: int | None = None) -> int:
    import hashlib

    h = hashlib.md5(f"{key}:{fp}:{i}".encode()).hexdigest()
    if i == "chk":
        return int(h[:15], 16)
    sub = _iblt_sub(n_cells)
    return i * sub + int(h[:8], 16) % sub


class IbltDecodeStall(ValueError):
    """Decode stalled: the diff exceeded the sketch's cell budget.

    A ValueError subclass so pre-r16 callers that catch ValueError on
    the fixed-budget path keep working; the optimistic-decode retry
    sites catch THIS type only, so any future ValueError raised inside
    _iblt_merge/_iblt_decode (e.g. validation) surfaces instead of
    being silently swallowed into an expensive adaptive re-sketch
    (ADVICE r15)."""


def _iblt_peel(
    cells: dict, n_cells: int | None = None
) -> list[tuple[int, int, int]]:
    """Standard IBLT peeling: repeatedly find a pure cell
    (count == +-1 and checksum verifies), extract its item, subtract
    it from its cells, until the table is empty. Returns
    (key, fp, sign) triples; raises IbltDecodeStall if decode stalls
    (diff exceeded the cell budget)."""
    recovered = []
    progress = True
    while progress:
        progress = False
        for c in list(cells):
            cnt, kx, fx, cx = cells.get(c, (0, 0, 0, 0))
            if cnt in (1, -1) and cx == _iblt_hash_py(kx, fx, "chk"):
                key, fp, s = kx, fx, cnt
                recovered.append((key, fp, s))
                for i in range(_IBLT_HASHES):
                    c2 = _iblt_hash_py(key, fp, i, n_cells)
                    c0, k0, f0, x0 = cells.get(c2, (0, 0, 0, 0))
                    st = (c0 - s, k0 ^ key, f0 ^ fp, x0 ^ cx)
                    if st == (0, 0, 0, 0):
                        cells.pop(c2, None)
                    else:
                        cells[c2] = st
                progress = True
    if cells:
        raise IbltDecodeStall(
            f"IBLT decode stalled with {len(cells)} impure cells — the "
            f"diff exceeds the {n_cells or _IBLT_CELLS}-cell budget "
            "(size cells >= 1.5x expected diff); raise _IBLT_CELLS, use "
            "cells='auto', or fall back to fp_merkle/compare_merkle_drill"
        )
    return recovered


@register("compare_iblt_diff", oracle=_iblt_oracle())
def compare_iblt_diff(spark, sf_dir) -> DataFrame:
    """Set reconciliation via an Invertible Bloom Lookup Table
    (Eppstein/Goodrich/Uhrmacher/Varghese, SIGCOMM 2011 "What's the
    Difference?"): recover EVERY differing row key of the
    compare_keyed_diff fixture from two constant-size sketches —
    state O(cells), decode O(d) — where the reference re-queries
    whole chunk windows per mismatch (ref main.py:228-247) and even
    the merkle drill pays O(log n) round trips. Each row becomes the
    item (key, row-fingerprint); both sides hash items into
    {3} cells of a {8192}-cell table holding (signed count, key-XOR,
    fp-XOR, checksum-XOR). Equal rows cancel CELL-WISE, so the
    aggregated difference table depends only on the d differing
    items; driver-side peeling then extracts them exactly: a key
    recovered from the src side only -> 'removed', tgt only ->
    'added', both sides (fingerprints differ) -> 'changed'.

    Exactness: the oracle classifies the same fixture with a direct
    FULL OUTER JOIN — the IBLT path must land on the identical
    (key, change) set, which it does whenever decode succeeds (md5
    checksums make a false peel ~2^-60; decode completeness holds
    comfortably at the documented cells >= 1.5x-diff margin —
    test-pinned at 2/3 load). Money goes
    through the cents-BIGINT render (never %f), and all XOR'd
    quantities are <2^60 positive longs.

    Scale: THE WAN compare story at 100 TB — each side ships
    {8192} cells x 4 longs (~256 KB) TOTAL, independent of table
    size, vs hash-per-chunk modes whose transfer grows with row
    count; the cell aggregation is one map-side-partial groupBy over
    3 exploded rows per item, the decode collect is bounded by the
    CELL COUNT (the <=512-row codebook-collect discipline), and a
    persisted cell table is incrementally maintainable per upsert
    (XOR/count are group operations — the fp_delta_update algebra).
    Capacity is ADAPTIVE (cells='auto'): a chunk-fingerprint grid
    first upper-bounds the diff, the sketch is sized 1.5x that bound
    (floored at the fixed budget), and only a diff past the 2^21-cell
    cap raises with an explicit pointer to the merkle fallback rather
    than decoding wrong — so the planted diff keeps decoding as the
    corpus (and with it the absolute diff count) scales.

    r15 (second pass): the fixed-budget sketch is built by PATCHING,
    never by re-fingerprinting either side. src = base minus the
    %3000 rows, so sketch(src,+1) == sketch(base,+1) (+)
    sketch(removed,-1) exactly (cell aggregation is a group
    homomorphism over signed item multisets — the same algebra
    compare_iblt_incremental hash-proves); the base sketch is the
    session-cached cell table and the target sketch is the shared
    session-cached target cells all three IBLT keys reconcile
    against. Per call this key therefore fingerprints ~n/3000
    removed rows, merges three bounded cell tables and decodes. A
    decode stall (diff past the fixed budget) falls back to the
    unchanged adaptive path over full re-sketches of both sides."""
    base, base_cells = _iblt_orders_state(spark, sf_dir)
    removed = base.filter(F.col("o_orderkey") % 3000 == 0)
    try:
        return _iblt_decode(
            spark,
            _iblt_merge(
                base_cells,
                _iblt_cell_agg(
                    _iblt_sketch(removed, -1, "o_orderkey", _IBLT_COLS)
                ),
                _iblt_tgt_cells(spark, sf_dir, _IBLT_CELLS),
            ),
            "o_orderkey",
            None,
        )
    except IbltDecodeStall:
        pass  # diff outgrew the fixed budget: adaptive re-sketch
    src = base.filter(F.col("o_orderkey") % 3000 != 0)
    return _iblt_adaptive(
        spark,
        _iblt_items(src, "o_orderkey", _IBLT_COLS),
        _iblt_items(_iblt_tgt_fixture(base), "o_orderkey", _IBLT_COLS),
        "o_orderkey",
    )


def _iblt_items(
    side: DataFrame, key_col: str, value_cols: list[str]
) -> DataFrame:
    """(key, fp) items for one side — the shared first stage of both
    the sketch and the adaptive-size estimator grid.

    The fingerprint encoding is null-safe: each value column is
    coalesced to a \\x01 sentinel and joined on \\x02 (concat_ws would
    otherwise silently SKIP nulls, so colA NULL->'x' / colB 'x'->NULL
    would fingerprint identically; a ':' delimiter additionally
    collides with ':'-containing values). Same discipline as the
    compare-core canonical encoding (compare.py)."""
    rowtext = F.concat_ws(
        "\x02",
        F.col(key_col).cast("string"),
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x01"))
            for c in value_cols
        ],
    )
    fp = F.conv(F.substring(F.md5(rowtext), 1, 15), 16, 10).cast("long")
    return side.select(F.col(key_col).alias("key"), fp.alias("fp"))


def _iblt_sketch(
    side: DataFrame,
    sign: int,
    key_col: str,
    value_cols: list[str],
    n_cells: int | None = None,
) -> DataFrame:
    """3 exploded (cell, sign) rows per item (key, row-fingerprint)."""
    return _iblt_sketch_items(
        _iblt_items(side, key_col, value_cols), sign, n_cells
    )


def _iblt_sketch_items(
    items: DataFrame, sign: int, n_cells: int | None = None
) -> DataFrame:
    cells, chk = _iblt_cell_exprs(F.col("key"), F.col("fp"), n_cells)
    return items.select(
        "key",
        "fp",
        chk.alias("chk"),
        F.explode(F.array(*cells)).alias("cell"),
        F.lit(sign).alias("sign"),
    )


#: estimator chunk grain (keys per chunk, via key >> 2). Smaller grain
#: tightens the per-chunk bound (<= 2 * grain items) at the price of a
#: larger grid exchange (n / grain rows per side).
_IBLT_EST_SHIFT = 2


def _iblt_diff_estimate(src_items: DataFrame, tgt_items: DataFrame) -> int:
    """Upper bound on the differing-item count d (a changed key is
    two items, one per side), from one chunk-fingerprint grid exchange
    per side — the keyed-chunk fp motif at 4-key grain. The bound is
    PROBABILISTIC, not guaranteed: a (count, fp-XOR) signature
    collision between differing chunks — or a multi-item XOR
    cancellation — undercounts d with probability ~2^-60 per chunk
    pair (md5-grade fingerprints). The failure mode stays LOUD: an
    undersized sketch stalls during decode and raises, it never
    returns a wrong diff.

    Each side aggregates its items to (chunk, count, fp-XOR); chunks
    whose (count, xor) signatures agree hold identical item multisets
    up to that collision probability, so every differing item lives
    in a MISMATCHING chunk and
    d <= sum over mismatching chunks of (count_src + count_tgt).
    The grid exchange is n/4 rows per side — the cheap first pass of
    the two-pass adaptive mode; the second pass sizes the sketch from
    this bound so decode capacity is never exceeded."""
    grids = []
    for it in (src_items, tgt_items):
        grids.append(
            it.groupBy(
                F.shiftright(F.col("key"), _IBLT_EST_SHIFT).alias("chunk")
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(fp)").alias("x"),
            )
        )
    g = grids[0].alias("s").join(
        grids[1].alias("t"), on="chunk", how="full_outer"
    )
    mism = g.filter(
        ~(
            F.col("s.n").eqNullSafe(F.col("t.n"))
            & F.col("s.x").eqNullSafe(F.col("t.x"))
        )
    )
    row = mism.agg(
        F.sum(
            F.coalesce(F.col("s.n"), F.lit(0))
            + F.coalesce(F.col("t.n"), F.lit(0))
        ).alias("bound")
    ).first()
    return int(row["bound"] or 0)


def _iblt_cell_agg(sk: DataFrame) -> DataFrame:
    """Sketch rows -> the (cell, cnt, kx, fx, cx) table."""
    return sk.groupBy("cell").agg(
        F.sum("sign").cast("long").alias("cnt"),
        F.expr("bit_xor(key)").alias("kx"),
        F.expr("bit_xor(fp)").alias("fx"),
        F.expr("bit_xor(chk)").alias("cx"),
    )


def _iblt_merge(*cell_dfs: DataFrame) -> DataFrame:
    """Union cell tables cell-wise (counts add, XORs fold — both
    group operations, which is what makes the sketch incrementally
    maintainable); drops cancelled cells."""
    u = cell_dfs[0]
    for c in cell_dfs[1:]:
        u = u.unionByName(c)
    return (
        u.groupBy("cell")
        .agg(
            F.sum("cnt").cast("long").alias("cnt"),
            F.expr("bit_xor(kx)").alias("kx"),
            F.expr("bit_xor(fx)").alias("fx"),
            F.expr("bit_xor(cx)").alias("cx"),
        )
        .filter(
            (F.col("cnt") != 0)
            | (F.col("kx") != 0)
            | (F.col("fx") != 0)
            | (F.col("cx") != 0)
        )
    )


def _iblt_decode(
    spark, cell_df: DataFrame, key_col: str, n_cells: int | None = None
) -> DataFrame:
    """Collect the (bounded) cell table, peel, classify per key."""
    cells = {
        r["cell"]: (r["cnt"], r["kx"], r["fx"], r["cx"])
        for r in cell_df.collect()  # bounded by the cell budget, never rows
    }
    by_key: dict[int, set] = {}
    for key, _fp, s in _iblt_peel(cells, n_cells):
        by_key.setdefault(key, set()).add(s)
    out = [
        (
            key,
            "changed"
            if sides == {1, -1}
            else ("removed" if sides == {1} else "added"),
        )
        for key, sides in by_key.items()
    ]
    return spark.createDataFrame(
        out, f"{key_col} long, change string"
    ).orderBy(key_col)


def iblt_reconcile(
    spark,
    src: DataFrame,
    tgt: DataFrame,
    key_col: str,
    value_cols: list[str],
    cells: int | str | None = None,
) -> DataFrame:
    """General IBLT reconciliation of two keyed frames (the
    compare_iblt_diff engine; see that key's docstring for the
    algorithm and scale argument). ``key_col`` must be a unique
    non-negative BIGINT key; returns (key_col, change) with change in
    added/removed/changed.

    ``cells``: None -> the fixed module budget (_IBLT_CELLS; raises
    when the diff exceeds it). ``'auto'`` -> TWO-PASS adaptive sizing:
    a chunk-fingerprint grid first upper-bounds the differing-item
    count d (see _iblt_diff_estimate), then the sketch is sized
    >= 1.5x that bound (never below _IBLT_CELLS, so small diffs keep
    the fixed-budget behavior) — converting "diff grew past the
    budget" from a decode error into a correctly-sized sketch. Above
    _IBLT_AUTO_CAP the diff is too large for cheap enumeration and a
    ValueError points at the merkle drill. An int pins the budget
    explicitly."""
    src_items = _iblt_items(src, key_col, value_cols)
    tgt_items = _iblt_items(tgt, key_col, value_cols)
    if cells == "auto":
        # OPTIMISTIC single pass (r15, guide §1.2/§2.1): decode at the
        # fixed budget first — one job (scan -> fp -> cells -> partial
        # agg -> merge -> bounded collect), no checkpoints, no
        # estimator grid. When it decodes (every diff within the fixed
        # capacity — today's common case) the result is IDENTICAL to
        # the two-pass mode, which would have sized need == _IBLT_CELLS
        # and built this exact sketch; a successful decode always
        # recovers exactly the symmetric difference. Only a decode
        # STALL (diff past the fixed budget) pays the adaptive path
        # below — one failed bounded collect, then the old flow.
        try:
            return _iblt_decode(
                spark,
                _iblt_merge(
                    _iblt_cell_agg(_iblt_sketch_items(src_items, 1, None)),
                    _iblt_cell_agg(_iblt_sketch_items(tgt_items, -1, None)),
                ),
                key_col,
                None,
            )
        except IbltDecodeStall:
            pass  # stalled: size from the estimator bound instead
        return _iblt_adaptive(spark, src_items, tgt_items, key_col)
    agg = _iblt_merge(
        _iblt_cell_agg(_iblt_sketch_items(src_items, 1, cells)),
        _iblt_cell_agg(_iblt_sketch_items(tgt_items, -1, cells)),
    )
    return _iblt_decode(spark, agg, key_col, cells)


def _iblt_adaptive(
    spark, src_items: DataFrame, tgt_items: DataFrame, key_col: str
) -> DataFrame:
    """The adaptive tail of ``cells='auto'`` after an optimistic
    fixed-budget decode stalled: estimator-bound the diff, size the
    sketch 1.5x, rebuild and decode. Shared by iblt_reconcile and
    compare_iblt_diff's patched-construction fallback."""
    # two passes read the items (estimator grid, then the sketch):
    # checkpoint the narrow (key, fp) rows so the dominant per-row
    # md5 fingerprinting of the WIDE sources is paid exactly once
    src_items = src_items.localCheckpoint()
    tgt_items = tgt_items.localCheckpoint()
    bound = _iblt_diff_estimate(src_items, tgt_items)
    need = max(_IBLT_CELLS, int(1.5 * bound))
    if need > _IBLT_AUTO_CAP:
        raise ValueError(
            f"estimated diff bound {bound} needs {need} cells, over "
            f"the {_IBLT_AUTO_CAP}-cell adaptive cap — the tables "
            "are too different for cheap set reconciliation; use "
            "fp_merkle/compare_merkle_drill (or a keyed diff)"
        )
    agg = _iblt_merge(
        _iblt_cell_agg(_iblt_sketch_items(src_items, 1, need)),
        _iblt_cell_agg(_iblt_sketch_items(tgt_items, -1, need)),
    )
    return _iblt_decode(spark, agg, key_col, need)


_IBLT_COLS = ["cents", "o_orderpriority", "o_orderstatus"]


@served("iblt_base_render", corpus_deps("orders"))
def _iblt_orders_base(spark, sf_dir: str):
    """The rendered orders base alone, built once per session. Split
    from the cell sketch so consumers that DON'T need the in-session
    sketch (compare_iblt_persist serves the sketch from warehouse
    parquet) never pay the sketch-build checkpoint."""
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return table(spark, "orders", sf_dir).select(
        "o_orderkey",
        cents.alias("cents"),
        "o_orderpriority",
        "o_orderstatus",
    )


@served("iblt_base_cells", corpus_deps("orders"))
def _iblt_base_cells(spark, sf_dir: str, cells: int):
    """The base cell sketch (sign +1), built once per session per cell
    budget. Callers pass the live _IBLT_CELLS: the base and target
    tables are MERGED cell-wise, so a session that shrinks the budget
    after warming this cache must never mix cell tables from
    different index spaces (ADVICE r15)."""
    return _iblt_cell_agg(
        _iblt_sketch(
            _iblt_orders_base(spark, sf_dir),
            1,
            "o_orderkey",
            _IBLT_COLS,
            cells,
        )
    )


def _iblt_orders_state(spark, sf_dir: str):
    """(rendered base, base cell sketch) for the orders table, built
    once per session: the persisted-sketch artifact the incremental
    key patches instead of rebuilding."""
    return (
        _iblt_orders_base(spark, sf_dir),
        _iblt_base_cells(spark, sf_dir, _IBLT_CELLS),
    )


def _iblt_tgt_fixture(base: DataFrame) -> DataFrame:
    """The mutated-target fixture ALL THREE IBLT keys reconcile
    against (drop %2000 keys, cents+100 at %1000, priority prefix at
    %700) — one definition so the shared cell cache below provably
    serves every key the same table."""
    return (
        base.filter(F.col("o_orderkey") % 2000 != 0)
        .withColumn(
            "cents",
            F.col("cents")
            + F.when(F.col("o_orderkey") % 1000 == 0, 100).otherwise(0),
        )
        .withColumn(
            "o_orderpriority",
            F.when(
                F.col("o_orderkey") % 700 == 0,
                F.concat(F.lit("X-"), F.col("o_orderpriority")),
            ).otherwise(F.col("o_orderpriority")),
        )
    )


@served("iblt_tgt_cells", corpus_deps("orders"))
def _iblt_tgt_cells(spark, sf_dir: str, cells: int) -> DataFrame:
    """The target-side cell sketch (sign -1, fixed budget), built
    once per session: the target fixture is byte-identical across
    compare_iblt_diff / _incremental / _persist, so each key merging
    this cached table against its own source-side cells is exactly
    the per-key re-sketch it used to pay (cell aggregation is a pure
    function of the fixture). Callers pass the live _IBLT_CELLS, so
    a test shrinking the budget can never be served a stale-sized
    table."""
    return _iblt_cell_agg(
        _iblt_sketch(
            _iblt_tgt_fixture(_iblt_orders_base(spark, sf_dir)),
            -1,
            "o_orderkey",
            _IBLT_COLS,
            cells,
        )
    )


def _iblt_incr_oracle() -> str:
    return """
    WITH base AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderpriority, o_orderstatus
      FROM orders),
    src1 AS (
      SELECT o_orderkey,
             cents + CASE WHEN o_orderkey % 1100 = 0 THEN 7 ELSE 0 END
               AS cents,
             o_orderpriority, o_orderstatus
      FROM base WHERE o_orderkey % 2600 <> 0),
    tgt AS (
      SELECT o_orderkey,
             cents + CASE WHEN o_orderkey % 1000 = 0 THEN 100 ELSE 0 END
               AS cents,
             CASE WHEN o_orderkey % 700 = 0 THEN 'X-' || o_orderpriority
                  ELSE o_orderpriority END AS o_orderpriority,
             o_orderstatus
      FROM base WHERE o_orderkey % 2000 <> 0),
    j AS (
      SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
             CASE WHEN s.o_orderkey IS NULL THEN 'added'
                  WHEN t.o_orderkey IS NULL THEN 'removed'
                  WHEN s.cents IS DISTINCT FROM t.cents
                    OR s.o_orderpriority IS DISTINCT FROM t.o_orderpriority
                    OR s.o_orderstatus IS DISTINCT FROM t.o_orderstatus
                    THEN 'changed' END AS change
      FROM src1 s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey)
    SELECT o_orderkey, change FROM j WHERE change IS NOT NULL
    """


@register("compare_iblt_incremental", oracle=_iblt_incr_oracle())
def compare_iblt_incremental(spark, sf_dir) -> DataFrame:
    """The IBLT lifecycle closed: maintain the source-side sketch by
    O(|delta|) PATCHING, then reconcile. An upsert batch lands on
    orders (cents+7 at keys %1100, deletes at %2600); instead of
    re-sketching the table, the session-cached base cell table is
    merged with patch terms computed FROM THE DELTA ROWS ONLY
    (-old_version, +new_version, -deleted — XOR and count are group
    operations, so cells(src1) == cells(src0) (+) patch exactly).
    The patched sketch then reconciles against an independently
    mutated target (the keyed-diff fixture), and decode must recover
    the combined diff — which the oracle computes directly from
    scratch, so a hash match proves the patch algebra end to end
    (the compare_cell_incremental proof shape, upgraded from "which
    cells changed" to full row-key recovery).

    The reference re-chains a whole window on ANY change
    (SURVEY §8 / fp_incremental_update discussion); here an upsert
    costs 3 cell updates per affected row version, and the serve
    plan performs no base rescans: after the cached build, the
    source side reads the checkpointed render + cell table only
    (plan-asserted).

    Scale: the persisted-sketch deployment story — a 100 TB table's
    sketch is maintained transactionally beside it (256 KB of
    state), and any replica can be diffed against it in one
    round trip + O(d) decode, no matter how many upserts ago the
    sketch was built."""
    return _iblt_decode(
        spark, _iblt_incremental_cells(spark, sf_dir), "o_orderkey"
    )


def _iblt_incremental_cells(spark, sf_dir: str, state=None) -> DataFrame:
    """The full pre-decode cell pipeline of compare_iblt_incremental
    (cached base sketch (+) delta patch (+) target sketch) — kept as
    a named stage so the plan test can assert the serve plan reads
    only checkpointed artifacts, no orders rescans. ``state``
    optionally supplies the (base, base_cells) pair — the
    compare_iblt_persist key passes the WAREHOUSE-reloaded sketch."""
    base, base_cells = (
        state if state is not None else _iblt_orders_state(spark, sf_dir)
    )
    upd = F.col("o_orderkey") % 1100 == 0
    dele = F.col("o_orderkey") % 2600 == 0
    old_upd = base.filter(upd & ~dele)
    new_upd = old_upd.withColumn("cents", F.col("cents") + 7)
    deleted = base.filter(dele)
    patch = _iblt_cell_agg(
        _iblt_sketch(old_upd, -1, "o_orderkey", _IBLT_COLS)
        .unionByName(_iblt_sketch(new_upd, 1, "o_orderkey", _IBLT_COLS))
        .unionByName(_iblt_sketch(deleted, -1, "o_orderkey", _IBLT_COLS))
    )
    src1_cells = _iblt_merge(base_cells, patch)
    # the target side is the SHARED session-cached cell sketch (one
    # fingerprint pass per session, all three IBLT keys)
    return _iblt_merge(
        src1_cells, _iblt_tgt_cells(spark, sf_dir, _IBLT_CELLS)
    )


@register("compare_iblt_persist", oracle=_iblt_incr_oracle())
def compare_iblt_persist(spark, sf_dir) -> DataFrame:
    """The WAN-compare sketch made durable: the base orders cell
    table (the 256 KB reconciliation state) is persisted to WAREHOUSE
    PARQUET and the serve path patches + reconciles against the
    RELOADED sketch — compare_iblt_incremental's lifecycle with the
    one step a real deployment adds: the sketch outlives the session
    that built it (maintained transactionally beside the table,
    reloadable by any later job or replica). Same fixture, same
    from-scratch oracle: hash match proves
    persisted-sketch (+) delta patch (+) target == truth, i.e. the
    parquet round trip preserves the XOR/count monoid state exactly
    (cnt/kx/fx/cx are plain longs).

    Staleness: spec pins {cells, hashes, value columns}; the
    orders-file fingerprint + ARTIFACT_FORMAT guard corpus and
    cell-construction changes (the round-9 partitioned-subtable
    change is exactly the kind of rebuild-forcing edit the format
    version exists for). Cross-session zero-build serving pinned by
    the subprocess round-trip test."""
    base = _iblt_orders_base(spark, sf_dir)
    base_cells = _iblt_sketch_artifact(spark, sf_dir)
    return _iblt_decode(
        spark,
        _iblt_incremental_cells(spark, sf_dir, state=(base, base_cells)),
        "o_orderkey",
    )


def _iblt_sketch_artifact(spark, sf_dir):
    """The warehouse-persisted orders cell sketch, building iff
    absent or stale — the build half of compare_iblt_persist, shared
    with the warehouse catalog. The rendered-base checkpoint is only
    paid inside the builder, so a fresh warehouse serves the sketch
    without touching the orders table."""
    from scribedb_spark.persist import persisted_artifact

    return persisted_artifact(
        spark,
        "iblt_orders_sketch",
        sf_dir,
        [f"{sf_dir}/orders.parquet"],
        lambda: _iblt_cell_agg(
            _iblt_sketch(
                _iblt_orders_base(spark, sf_dir), 1, "o_orderkey", _IBLT_COLS
            )
        ),
        spec={
            "cells": _IBLT_CELLS,
            "hashes": _IBLT_HASHES,
            "cols": _IBLT_COLS,
        },
    )


# ---------------------------------------------------------------------------
# rollup_source_freshness — per-stream ingest lag monitor
# ---------------------------------------------------------------------------

#: an event stream whose newest row lags the freshest stream by more
#: than this many microseconds is flagged stale (1 hour — the classic
#: "did one upstream topic stop" alarm granularity)
_FRESHNESS_LAG_US = 3_600_000_000


def freshness_state(events: DataFrame) -> DataFrame:
    """The monitor's maintained state from any events slice: per
    event_type (n_events, last_seen_us). COUNT-sum and MAX are a
    commutative monoid, so streamed micro-batches fold into this by
    union + re-agg (streaming/diff.stream_freshness_maintain)."""
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max(F.unix_micros(F.col("ts"))).cast("long").alias("last_seen_us"),
    )


def freshness_decision(per: DataFrame) -> DataFrame:
    """The decision table from the maintained state — readable at any
    point without a corpus rescan (quality_drift_from_hist's shape)."""
    tot = per.agg(F.max("last_seen_us").alias("now_us"))
    return per.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_events",
        "last_seen_us",
        (F.col("now_us") - F.col("last_seen_us")).cast("long").alias("lag_us"),
        F.when(
            F.col("now_us") - F.col("last_seen_us") > _FRESHNESS_LAG_US,
            "stale",
        )
        .otherwise("fresh")
        .alias("verdict"),
    )


@register(
    "rollup_source_freshness",
    oracle=f"""
    WITH per AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_seen_us
      FROM events GROUP BY event_type),
    t AS (SELECT MAX(last_seen_us) AS now_us FROM per)
    SELECT event_type, n_events, last_seen_us,
           CAST(t.now_us - last_seen_us AS BIGINT) AS lag_us,
           CASE WHEN t.now_us - last_seen_us > {_FRESHNESS_LAG_US}
                THEN 'stale' ELSE 'fresh' END AS verdict
    FROM per CROSS JOIN t
    """,
    gate=corpus_deps("events"),
)
def rollup_source_freshness(spark, sf_dir) -> DataFrame:
    """INGEST-FRESHNESS monitor: per event stream (event_type), the
    newest row's timestamp and its lag behind the freshest stream,
    flagged 'stale' past {1 hour} — the standing "did one upstream
    topic stop" alarm every ingest pipeline runs next to its drift
    gates (a dead producer poisons every downstream freshness
    assumption while row counts still look plausible). The watermark
    reference is the corpus' own max timestamp, not wall-clock, so
    the monitor is deterministic over a snapshot (and exactly what a
    production alarm computes from its last successful load).

    Exactness: MAX over integer epoch microseconds (unix_micros ==
    DuckDB epoch_us — the join_asof idiom; events.ts NANOS floors to
    us identically on both engines at read time), one subtraction,
    integer-threshold CASE.

    Scale: one map-side-partial groupBy over the stream-id domain
    (bounded rows out), a 1-row broadcast of the global max — the
    cheapest possible standing monitor, O(corpus scan) with metadata-
    sized state at 100 TB; at ingest time the same shape runs
    incrementally as a streaming max per type (the
    stream_freshness_maintain twin folds micro-batches into the same
    state this computes from scratch). The <= #event_types-row state
    feeds two arms (the per-type rows and the global-max broadcast) —
    localCheckpoint'd so the events scan runs once, not twice.
    Decision served via cache.gate_decision (fingerprint:
    events.parquet)."""
    per = freshness_state(table(spark, "events", sf_dir)).localCheckpoint()
    return freshness_decision(per)


# ---------------------------------------------------------------------------
# rollup_ingest_gaps — per-stream outage census (max inter-event gap)
# ---------------------------------------------------------------------------

#: one calendar day of microseconds — the gap-census partition grain
_GAP_DAY_US = 86_400_000_000


@register(
    "rollup_ingest_gaps",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY event_type
               ORDER BY epoch_us(ts), event_id) AS gap
      FROM events)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(gap) AS BIGINT) AS max_gap_us,
           CAST(COUNT(*) FILTER (WHERE gap > {_FRESHNESS_LAG_US})
                AS BIGINT) AS n_gaps_over,
           CASE WHEN COUNT(*) FILTER (WHERE gap > {_FRESHNESS_LAG_US}) > 0
                THEN 'gappy' ELSE 'continuous' END AS verdict
    FROM g GROUP BY event_type
    """,
    gate=corpus_deps("events"),
)
def rollup_ingest_gaps(spark, sf_dir) -> DataFrame:
    """PER-STREAM OUTAGE census — the historical companion of
    rollup_source_freshness (that key asks "is the stream dead NOW";
    this one asks "how often did it die"): per event_type, the
    maximal inter-event gap and the count of gaps exceeding the same
    1 h alarm threshold. The operational record behind an ingest
    SLA review.

    Scale — the day-partitioned decomposition: a single
    per-event_type sort window is the classic skew trap (5 stream ids
    x billions of rows = 5 giant partitions), so the plan partitions
    the window by (event_type, DAY): consecutive events either share
    a day (the within-day lag window sees them) or straddle day
    boundaries, where the earlier one is its day's MAX and the later
    its day's MIN — so the per-(type, day) min/max table (a map-side
    partial agg) plus one tiny per-type lag over days supplies
    exactly the boundary gaps, empty days included. The oracle is the
    plain global-sort window, so the driver hash-check PROVES the
    decomposition exact on every run. Window partitions are bounded
    by one day of one stream; the boundary pass is metadata-sized.

    Exactness: integer epoch microseconds, (us, event_id) total
    order for equal timestamps, integer threshold counts. Decision
    served via cache.gate_decision (fingerprint: events.parquet)."""
    e = table(spark, "events", sf_dir).select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
    ).withColumn("day", F.expr(f"us div {_GAP_DAY_US}"))
    w_day = Window.partitionBy("event_type", "day").orderBy("us", "event_id")
    wd = e.select(
        "event_type", (F.col("us") - F.lag("us").over(w_day)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    db = e.groupBy("event_type", "day").agg(
        F.min("us").alias("mn"), F.max("us").alias("mx")
    )
    w_bd = Window.partitionBy("event_type").orderBy("day")
    bd = db.select(
        "event_type", (F.col("mn") - F.lag("mx").over(w_bd)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    cnt = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    allg = wd.unionByName(bd)
    gaps = allg.groupBy("event_type").agg(
        F.max("gap").cast("long").alias("max_gap_us"),
        F.sum(
            F.when(F.col("gap") > _FRESHNESS_LAG_US, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_gaps_over"),
    )
    return (
        cnt.join(gaps, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            "max_gap_us",
            F.coalesce("n_gaps_over", F.lit(0)).cast("long").alias("n_gaps_over"),
            F.when(F.coalesce("n_gaps_over", F.lit(0)) > 0, "gappy")
            .otherwise("continuous")
            .alias("verdict"),
        )
    )
