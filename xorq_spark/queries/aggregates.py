"""Aggregation coverage (SURVEY §2.4): statistical moments, quantiles,
argmin/argmax, bit/bool aggs, ordered group_concat / array collect,
filtered aggregates, count-distinct, rollup/cube (Spark extras).

Parity notes: var/stddev/corr/covar accumulate in double (order-
dependent at the 1e-13 relative level), so results are rounded to
6-9 digits on small-magnitude columns. min_by/max_by use a synthetic
unique ordering key — both engines pick arbitrarily on ties otherwise.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from xorq_spark.queries.base import pinned_order, query, t, money_out

_PRICE = "decimal(18,2)"


@query(
    "agg_stats_moments",
    oracle="""
    SELECT event_type,
           ROUND(var_samp(value), 6) AS v_samp,
           ROUND(var_pop(value), 6) AS v_pop,
           ROUND(stddev_samp(value), 6) AS sd_samp,
           ROUND(stddev_pop(value), 6) AS sd_pop,
           ROUND(corr(value, CAST(user_id AS DOUBLE)), 9) AS cor,
           ROUND(covar_samp(value, CAST(user_id AS DOUBLE)), 6) AS cov_s,
           ROUND(covar_pop(value, CAST(user_id AS DOUBLE)), 6) AS cov_p
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def agg_stats(spark, sf_dir):
    v = F.col("value")
    u = F.col("user_id").cast("double")
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.var_samp(v), 6).alias("v_samp"),
            F.round(F.var_pop(v), 6).alias("v_pop"),
            F.round(F.stddev_samp(v), 6).alias("sd_samp"),
            F.round(F.stddev_pop(v), 6).alias("sd_pop"),
            F.round(F.corr(v, u), 9).alias("cor"),
            F.round(F.covar_samp(v, u), 6).alias("cov_s"),
            F.round(F.covar_pop(v, u), 6).alias("cov_p"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_quantiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(median(CAST(l_quantity AS DOUBLE)), 9) AS med,
           ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25), 9) AS q25,
           quantile_cont(CAST(l_quantity AS DOUBLE), [0.25, 0.5, 0.75]) AS qs,
           quantile_disc(CAST(l_quantity AS DOUBLE), 0.5) AS med_disc
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_quantiles(spark, sf_dir):
    q = F.col("l_quantity").cast("double")
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.median(q), 9).alias("med"),
            F.round(F.percentile(q, 0.25), 9).alias("q25"),
            F.percentile(q, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("qs"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY CAST(l_quantity AS DOUBLE))").alias("med_disc"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_argminmax_firstlast",
    oracle="""
    SELECT o_custkey,
           arg_max(o_orderkey, CAST(o_totalprice * 100 AS BIGINT) * 10000000 + o_orderkey) AS best_order,
           arg_min(o_orderkey, CAST(o_totalprice * 100 AS BIGINT) * 10000000 + o_orderkey) AS worst_order,
           min(o_orderdate) AS first_date,
           max(o_orderdate) AS last_date
    FROM orders GROUP BY o_custkey ORDER BY o_custkey
    """,
)
def agg_argminmax(spark, sf_dir):
    """ArgMax/ArgMin (reductions.py:328,338) -> F.max_by/min_by. The
    ordering key is made unique (price cents * 1e7 + orderkey) because
    both engines break ties arbitrarily."""
    key = (F.col("o_totalprice") * 100).cast("bigint") * 10000000 + F.col("o_orderkey")
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max_by("o_orderkey", key).alias("best_order"),
            F.min_by("o_orderkey", key).alias("worst_order"),
            F.min("o_orderdate").alias("first_date"),
            F.max("o_orderdate").alias("last_date"),
        )
        .orderBy("o_custkey")
    )


@query(
    "agg_bit_bool",
    oracle="""
    SELECT n_regionkey,
           bit_and(n_nationkey) AS b_and,
           bit_or(n_nationkey) AS b_or,
           bit_xor(n_nationkey) AS b_xor,
           bool_and(n_nationkey % 2 = 0) AS all_even,
           bool_or(n_nationkey % 2 = 0) AS any_even
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def agg_bit_bool(spark, sf_dir):
    k = F.col("n_nationkey")
    return (
        t(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.bit_and(k).alias("b_and"),
            F.bit_or(k).alias("b_or"),
            F.bit_xor(k).alias("b_xor"),
            F.bool_and(k % 2 == 0).alias("all_even"),
            F.bool_or(k % 2 == 0).alias("any_even"),
        )
        .orderBy("n_regionkey")
    )


@query(
    "agg_group_concat_collect",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS names_csv,
           list(n_name ORDER BY n_name) AS names_arr,
           list(DISTINCT n_regionkey ORDER BY n_regionkey) AS self_keys
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def agg_group_concat(spark, sf_dir):
    """GroupConcat with separator+order (reductions.py:348) and ordered
    ArrayCollect (reductions.py:373) — lowered to sorted collect_list."""
    return (
        t(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("names_csv"),
            F.array_sort(F.collect_list("n_name")).alias("names_arr"),
            F.array_sort(F.collect_set("n_regionkey")).alias("self_keys"),
        )
        .orderBy("n_regionkey")
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           COUNT(l_orderkey) AS n_rows,
           COUNT(*) AS n_star,
           COUNT(DISTINCT (l_suppkey, l_partkey)) AS n_pairs
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_count_distinct(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
            F.count("l_orderkey").alias("n_rows"),
            F.count("*").alias("n_star"),
            F.countDistinct(F.struct("l_suppkey", "l_partkey")).alias("n_pairs"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_filtered_where",
    oracle="""
    SELECT l_returnflag,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_discount > 0.05), 2) AS DOUBLE) AS qty_highdisc,
           COUNT(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
           CAST(MAX(l_extendedprice) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS max_f
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_filtered(spark, sf_dir):
    """Per-reduction `where` filter (Filterable, reductions.py:27) —
    lowered to agg(when(cond, x)), the same rewrite ibis uses."""
    qty = F.col("l_quantity").cast(_PRICE)
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            money_out(F.sum(F.when(F.col("l_discount") > 0.05, qty))).alias("qty_highdisc"),
            F.count(F.when(F.col("l_quantity") > 25, True)).alias("n_bulk"),
            F.max(F.when(F.col("l_linestatus") == "F", F.col("l_extendedprice")))
            .cast("double")
            .alias("max_f"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY g_rf, g_ls, l_returnflag NULLS LAST, l_linestatus NULLS LAST
    """,
)
def agg_rollup(spark, sf_dir):
    """ROLLUP — a Spark extra the reference IR lacks (SURVEY §2.2 notes
    no grouping-sets anywhere in the ibis IR); exposed because Spark has
    it natively and training-data summaries want it."""
    qty = F.col("l_quantity").cast(_PRICE)
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").alias("g_rf"),
            F.grouping("l_linestatus").alias("g_ls"),
            F.count("*").alias("n"),
            money_out(F.sum(qty)).alias("sum_qty"),
        )
        .orderBy(
            "g_rf",
            "g_ls",
            F.col("l_returnflag").asc_nulls_last(),
            F.col("l_linestatus").asc_nulls_last(),
        )
    )


@query(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) AS g_st, GROUPING(o_orderpriority) AS g_pr,
           COUNT(*) AS n
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY g_st, g_pr, o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
    """,
)
def agg_cube(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").alias("g_st"),
            F.grouping("o_orderpriority").alias("g_pr"),
            F.count("*").alias("n"),
        )
        .orderBy(
            "g_st",
            "g_pr",
            F.col("o_orderstatus").asc_nulls_last(),
            F.col("o_orderpriority").asc_nulls_last(),
        )
    )


@query(
    "agg_any_value_deterministic",
    oracle="""
    SELECT c_nationkey,
           min(c_name) AS arbitrary_name,
           arg_min(c_name, c_custkey) AS first_by_key,
           arg_max(c_name, c_custkey) AS last_by_key
    FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def agg_first_last_ordered(spark, sf_dir):
    """First/Last/Arbitrary with order_by (reductions.py:67-90): ordered
    first/last lower to min_by/max_by on the ordering key; Arbitrary is
    made deterministic as min() (any fixed choice is a valid Arbitrary)."""
    return (
        t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.min("c_name").alias("arbitrary_name"),
            F.min_by("c_name", "c_custkey").alias("first_by_key"),
            F.max_by("c_name", "c_custkey").alias("last_by_key"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "agg_hll_sketch",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_exact,
           TRUE AS hll_within_2pct,
           TRUE AS merged_within_2pct
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_hll(spark, sf_dir):
    """Mergeable distinct-count sketches (Datasketches HLL via
    hll_sketch_agg / hll_union_agg): the scale path for COUNT DISTINCT
    over 100 TB — per-partition sketches combine associatively, so the
    shuffle carries fixed-size binaries instead of value sets, and
    sketches persisted per shard union incrementally across runs.

    The oracle pins the EXACT per-group count; the query certifies on
    top of it that (a) the sketch estimate lands within 2% of exact
    and (b) a two-level union of per-bucket sketches also lands within
    2% (mergeability; union may promote representations, so estimates
    can differ by a few counts from the direct pass) — booleans, so the
    hash compare is engine-independent while the accuracy claim stays
    falsifiable."""
    li = t(spark, sf_dir, "lineitem")
    direct = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_exact"),
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey")).alias("__est"),
    )
    merged = (
        li.withColumn("__b", F.col("l_orderkey") % 16)
        .groupBy("l_returnflag", "__b")
        .agg(F.hll_sketch_agg("l_partkey").alias("__sk"))
        .groupBy("l_returnflag")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("__mest"))
    )
    return (
        direct.join(merged, "l_returnflag")
        .select(
            "l_returnflag",
            "n_exact",
            (
                F.abs(F.col("__est") - F.col("n_exact"))
                <= 0.02 * F.col("n_exact")
            ).alias("hll_within_2pct"),
            (
                F.abs(F.col("__mest") - F.col("n_exact"))
                <= 0.02 * F.col("n_exact")
            ).alias("merged_within_2pct"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_countmin_sketch",
    oracle="""
    WITH occ AS (SELECT CAST(l_suppkey AS VARCHAR) AS k FROM lineitem),
    ex AS (SELECT k, unnest(range(0, 4)) AS row FROM occ),
    sk AS (SELECT row,
                  ('0x' || substr(md5('cms' || CAST(row AS VARCHAR) || '|' || k), 1, 8))::BIGINT % 64 AS bucket,
                  count(*) AS c
           FROM ex GROUP BY 1, 2),
    qk AS (SELECT DISTINCT k FROM occ),
    qx AS (SELECT k, unnest(range(0, 4)) AS row FROM qk),
    qb AS (SELECT k, row,
                  ('0x' || substr(md5('cms' || CAST(row AS VARCHAR) || '|' || k), 1, 8))::BIGINT % 64 AS bucket
           FROM qx),
    est AS (SELECT k, CAST(min(COALESCE(sk.c, 0)) AS BIGINT) AS cms_est
            FROM qb LEFT JOIN sk USING (row, bucket) GROUP BY k),
    exact AS (SELECT k, count(*) AS n_exact FROM occ GROUP BY k)
    SELECT CAST(exact.k AS BIGINT) AS l_suppkey,
           CAST(exact.n_exact AS BIGINT) AS n_exact,
           est.cms_est,
           est.cms_est AS cms_est_merged,
           est.cms_est >= exact.n_exact AS overestimates
    FROM exact JOIN est USING (k)
    ORDER BY l_suppkey
    """,
)
def agg_countmin(spark, sf_dir):
    """Count-min frequency sketch as a DataFrame (functions/sketches.py)
    — the heavy-hitters path for 100 TB frequency estimation next to
    the HLL distinct sketches. depth=4 x width=64 forces real collisions
    at this scale, so the oracle certifies genuine CMS behavior (every
    estimate value AND the overestimate-only guarantee), not a trivially
    collision-free table. The merged column rebuilds the sketch from 8
    disjoint order-bucket partials via counter addition and re-estimates
    — bit-equal to the direct sketch, certifying mergeability."""
    from xorq_spark.functions.sketches import (
        count_min_build,
        count_min_estimate,
        count_min_merge,
    )

    li = t(spark, sf_dir, "lineitem")
    depth, width = 4, 64
    direct = count_min_build(li, "l_suppkey", depth, width)
    partials = [
        count_min_build(
            li.where(F.col("l_orderkey") % 8 == b), "l_suppkey", depth, width
        )
        for b in range(8)
    ]
    merged = count_min_merge(*partials)
    keys = li.select("l_suppkey").distinct()
    est = count_min_estimate(direct, keys, "l_suppkey", depth, width)
    est_m = count_min_estimate(merged, keys, "l_suppkey", depth, width).select(
        F.col("l_suppkey").alias("__k2"), F.col("cms_est").alias("cms_est_merged")
    )
    exact = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        exact.select(F.col("l_suppkey").cast("string").alias("__k"), "n_exact")
        .join(est.select(F.col("l_suppkey").alias("__k"), "cms_est"), "__k")
        .join(est_m, F.col("__k") == F.col("__k2"))
        .select(
            F.col("__k").cast("long").alias("l_suppkey"),
            F.col("n_exact").cast("long").alias("n_exact"),
            "cms_est",
            "cms_est_merged",
            (F.col("cms_est") >= F.col("n_exact")).alias("overestimates"),
        )
        .orderBy("l_suppkey")
    )


@query(
    "agg_bloom_filter",
    oracle="""
    WITH memb AS (SELECT CAST(s_suppkey AS VARCHAR) AS k, s_suppkey
                  FROM supplier WHERE s_nationkey = 1),
    bits AS (
      SELECT DISTINCT
        ('0x' || substr(md5('bf' || CAST(j AS VARCHAR) || '|' || k), 1, 8))::BIGINT
          % 256 AS bit
      FROM (SELECT k, unnest(range(0, 3)) AS j FROM memb)),
    qk AS (SELECT DISTINCT l_suppkey, CAST(l_suppkey AS VARCHAR) AS k
           FROM lineitem WHERE l_suppkey IS NOT NULL),
    qbb AS (
      SELECT l_suppkey,
        ('0x' || substr(md5('bf' || CAST(j AS VARCHAR) || '|' || k), 1, 8))::BIGINT
          % 256 AS bit
      FROM (SELECT l_suppkey, k, unnest(range(0, 3)) AS j FROM qk)),
    pr AS (
      SELECT qbb.l_suppkey,
             (sum(CASE WHEN bits.bit IS NULL THEN 0 ELSE 1 END) = 3)
               AS maybe_present
      FROM qbb LEFT JOIN bits USING (bit)
      GROUP BY qbb.l_suppkey)
    SELECT pr.l_suppkey AS suppkey,
           (m.s_suppkey IS NOT NULL) AS truly_in,
           pr.maybe_present,
           pr.maybe_present AS maybe_merged,
           (m.s_suppkey IS NULL) OR pr.maybe_present AS no_false_negative
    FROM pr LEFT JOIN (SELECT DISTINCT s_suppkey FROM memb) m
      ON pr.l_suppkey = m.s_suppkey
    ORDER BY suppkey
    """,
)
def agg_bloom_filter(spark, sf_dir):
    """Bloom filter as a DataFrame of set bit positions
    (functions/sketches.py bloom_build/merge/probe) — the membership /
    join-pruning sketch next to CMS (frequency) and HLL (distinct).
    k=3 × m=256 over one nation's suppliers forces REAL false
    positives when probing every lineitem supplier, so the oracle
    certifies genuine Bloom behavior: every membership verdict, the
    merge (two half-filters union to the direct filter exactly), and
    the no-false-negative guarantee as an always-true column."""
    from xorq_spark.functions.sketches import (
        bloom_build,
        bloom_merge,
        bloom_probe,
    )

    k, m = 3, 256
    sup = t(spark, sf_dir, "supplier")
    memb = sup.where(F.col("s_nationkey") == 1)
    direct = bloom_build(memb, "s_suppkey", k, m)
    merged = bloom_merge(
        bloom_build(memb.where(F.col("s_suppkey") % 2 == 0), "s_suppkey", k, m),
        bloom_build(memb.where(F.col("s_suppkey") % 2 == 1), "s_suppkey", k, m),
    )
    li = t(spark, sf_dir, "lineitem")
    keys = li.select("l_suppkey").where(F.col("l_suppkey").isNotNull())
    p1 = bloom_probe(direct, keys, "l_suppkey", k, m)
    p2 = bloom_probe(merged, keys, "l_suppkey", k, m).select(
        F.col("l_suppkey").alias("__k2"),
        F.col("maybe_present").alias("maybe_merged"),
    )
    truth = memb.select("s_suppkey").distinct()
    return (
        p1.join(p2, F.col("l_suppkey") == F.col("__k2"))
        .join(truth, F.col("l_suppkey") == F.col("s_suppkey"), "left")
        .select(
            F.col("l_suppkey").cast("long").alias("suppkey"),
            F.col("s_suppkey").isNotNull().alias("truly_in"),
            "maybe_present",
            "maybe_merged",
            (F.col("s_suppkey").isNull() | F.col("maybe_present")).alias(
                "no_false_negative"
            ),
        )
        .orderBy("suppkey")
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT GROUPING(o_orderstatus) AS g_st,
           GROUPING(o_orderpriority) AS g_pr,
           o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(SUM(CASE WHEN o_totalprice >= 100000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_large
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority), ())
    ORDER BY g_st, g_pr, o_orderstatus, o_orderpriority
    """,
)
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS — the third grouping-extension next to
    the certified ROLLUP/CUBE: arbitrary subtotal combinations in ONE
    pass over the fact table (Spark expands sets into a single
    Expand+partial-agg plan — no N scans). GROUPING() markers
    disambiguate 'subtotal' from genuine NULL keys on both engines."""
    o = t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_gs")
    return spark.sql("""
        SELECT GROUPING(o_orderstatus) AS g_st,
               GROUPING(o_orderpriority) AS g_pr,
               o_orderstatus, o_orderpriority,
               count(*) AS n,
               CAST(SUM(CASE WHEN o_totalprice >= 100000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_large
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority), ())
        ORDER BY g_st, g_pr, o_orderstatus, o_orderpriority
    """)


@query(
    "agg_hdr_quantiles",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5) AS BIGINT) AS v,
             l_orderkey
      FROM lineitem),
    parts AS (
      SELECT CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS sign,
             abs(v) AS mag, l_orderkey
      FROM v),
    bk0 AS (
      SELECT sign,
             CASE WHEN mag > 0 THEN length(bin(mag)) - 1 ELSE 0 END AS e,
             CASE WHEN mag = 0 THEN CAST(0 AS BIGINT)
                  WHEN length(bin(mag)) - 1 >= 4 THEN
                    (mag - (CAST(1 AS BIGINT) << (length(bin(mag)) - 1)))
                      >> (length(bin(mag)) - 1 - 4)
                  ELSE mag - (CAST(1 AS BIGINT) << (length(bin(mag)) - 1))
             END AS sub,
             l_orderkey
      FROM parts),
    -- direct sketch and a 4-shard merged rebuild (counters add) must agree
    sk AS (SELECT sign, e, sub, count(*) AS c FROM bk0 GROUP BY 1, 2, 3),
    skm AS (SELECT sign, e, sub, CAST(SUM(c) AS BIGINT) AS c FROM (
              SELECT sign, e, sub, l_orderkey % 4 AS shard, count(*) AS c
              FROM bk0 GROUP BY 1, 2, 3, 4) GROUP BY 1, 2, 3),
    bd AS (
      SELECT sign, e, sub, c,
             CASE WHEN sign = 0 THEN CAST(0 AS BIGINT)
                  WHEN e >= 4 THEN (CAST(1 AS BIGINT) << e) + sub * (CAST(1 AS BIGINT) << (e - 4))
                  ELSE (CAST(1 AS BIGINT) << e) + sub END AS lo_m,
             CASE WHEN sign = 0 THEN CAST(1 AS BIGINT)
                  WHEN e >= 4 THEN (CAST(1 AS BIGINT) << (e - 4))
                  ELSE CAST(1 AS BIGINT) END AS w_m
      FROM sk),
    bdm AS (
      SELECT sign, e, sub, c,
             CASE WHEN sign = 0 THEN CAST(0 AS BIGINT)
                  WHEN e >= 4 THEN (CAST(1 AS BIGINT) << e) + sub * (CAST(1 AS BIGINT) << (e - 4))
                  ELSE (CAST(1 AS BIGINT) << e) + sub END AS lo_m,
             CASE WHEN sign = 0 THEN CAST(1 AS BIGINT)
                  WHEN e >= 4 THEN (CAST(1 AS BIGINT) << (e - 4))
                  ELSE CAST(1 AS BIGINT) END AS w_m
      FROM skm),
    cum AS (
      SELECT CASE WHEN sign >= 0 THEN lo_m * sign ELSE -(lo_m + w_m - 1) END AS lo_int,
             CASE WHEN sign >= 0 THEN (lo_m + w_m - 1) * sign ELSE -lo_m END AS hi_int,
             SUM(c) OVER (ORDER BY CASE WHEN sign >= 0 THEN lo_m * sign
                                        ELSE -(lo_m + w_m - 1) END
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM bd),
    cumm AS (
      SELECT CASE WHEN sign >= 0 THEN lo_m * sign ELSE -(lo_m + w_m - 1) END AS lo_int,
             CASE WHEN sign >= 0 THEN (lo_m + w_m - 1) * sign ELSE -lo_m END AS hi_int,
             SUM(c) OVER (ORDER BY CASE WHEN sign >= 0 THEN lo_m * sign
                                        ELSE -(lo_m + w_m - 1) END
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM bdm),
    tot AS (SELECT count(*) AS N FROM v),
    qs AS (SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10),
                                 ('p99', 99, 100), ('p999', 999, 1000)) q(q, num, den)),
    needs AS (SELECT q, (num * N + den - 1) // den AS need FROM qs, tot),
    est AS (
      SELECT q, CAST(min(lo_int) AS BIGINT) AS est_lo,
             CAST(min_by(hi_int, lo_int) AS BIGINT) AS est_hi
      FROM cum JOIN needs ON cum.cum >= needs.need GROUP BY q),
    estm AS (
      SELECT q, CAST(min(lo_int) AS BIGINT) AS est_lo_merged
      FROM cumm JOIN needs ON cumm.cum >= needs.need GROUP BY q),
    exv AS (SELECT v, count(*) AS c FROM v GROUP BY v),
    exc AS (SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum FROM exv),
    exq AS (SELECT q, CAST(min(v) AS BIGINT) AS exact
            FROM exc JOIN needs ON exc.cum >= needs.need GROUP BY q)
    SELECT est.q, est.est_lo, est.est_hi, estm.est_lo_merged, exq.exact,
           (est.est_lo <= exq.exact AND exq.exact <= est.est_hi) AS contains_exact,
           ((est.est_hi - est.est_lo + 1) <= CASE WHEN (est.est_lo >> 4) > 1
                                                  THEN est.est_lo >> 4 ELSE 1 END)
             AS within_rel_bound
    FROM est JOIN estm USING (q) JOIN exq USING (q)
    ORDER BY q
    """,
)
def agg_hdr_quantiles(spark, sf_dir):
    """Mergeable log-linear quantile sketch (functions/sketches.py
    hdr_build/merge/quantiles) — the 100 TB percentile path next to
    HLL (distinct), CMS (frequency), and Bloom (membership): the
    sketch is a <=2k-row (sign, e, sub, c) table whatever the input
    size, built by one map-side-combinable groupBy over pure-integer
    shift bucketing (e = length(bin(m))-1, 16 linear sub-buckets per
    octave => structural 1/16 relative error).

    Certification is total: the DuckDB oracle replays quantization,
    bucketing, a 4-shard merge rebuild (must equal the direct sketch's
    readout), the cumsum readout at p50/p90/p99/p999, AND the exact
    type-1 quantile — `contains_exact` proves each estimate bucket
    brackets the true quantile; `within_rel_bound` proves the error
    geometry. A single off-by-one in any shift breaks the hash."""
    from xorq_spark.functions.sketches import (
        hdr_build_from_counts,
        hdr_merge,
        hdr_quantiles,
    )

    li = t(spark, sf_dir, "lineitem")
    vint = F.expr(
        "CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5) AS BIGINT)"
    )
    vals = li.select(vint.alias("v"), "l_orderkey")
    # ONE corpus scan (guide §2.3 "aggregate before you shuffle"): the
    # per-(value, shard) count table — map-side combinable, distinct-
    # values-sized — feeds the direct sketch, all four shard partials,
    # the exact-quantile side AND the row count. The former plan built
    # each of those from its own lineitem scan (14 scans in the
    # committed plan); counters are exact integers, so every derived
    # frame is bit-identical to its scan-per-consumer ancestor.
    vc = (
        vals.groupBy("v", (F.col("l_orderkey") % 4).alias("__shard"))
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .localCheckpoint(eager=False)
    )
    # Everything below vc is BOUNDED (sketch geometry, bucket
    # histograms, 4 rank rows), so the readout compiles statically
    # (session.static_compile): under AQE this tail executed as ~20
    # sequential micro-jobs whose wall was driver round-trips.
    from xorq_spark.session import static_compile

    with static_compile(spark):
        sk_sh = hdr_build_from_counts(
            vc, "v", "__cnt", by=("__shard",)
        ).localCheckpoint(eager=False)  # bounded: <=4x sketch geometry
        direct = hdr_merge(sk_sh.drop("__shard"))
        partials = [
            sk_sh.where(F.col("__shard") == s).drop("__shard") for s in range(4)
        ]
        merged = hdr_merge(*partials)
        qs = [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100), ("p999", 999, 1000)]
        est = hdr_quantiles(direct, qs)
        est_m = hdr_quantiles(merged, qs).select(
            F.col("q").alias("__qm"), F.col("est_lo").alias("est_lo_merged")
        )

        # exact type-1 quantiles, replayed with the same integer rank rule.
        # The cumulative count runs over the DISTINCT-value table, which is
        # unbounded by data (distinct prices at sf100 are millions of rows)
        # — so it must not use a partition-less window (one task at scale).
        # Round 9: the full running_sum prefix (range shuffle + sampling
        # pass + window over every distinct value) materialized 583k
        # cumulative counts to read off 4 ranks; rank_select_from_counts
        # finds the same values via a bucket-histogram locate + in-bucket
        # fold — identical by construction (equality test + oracle hash).
        from xorq_spark.operators.prefix import rank_select_from_counts

        from xorq_spark.operators.localframe import lit_table

        tot = vc.agg(F.coalesce(F.sum("__cnt"), F.lit(0)).cast("long").alias("N"))
        qdf = lit_table(spark, qs, "q string, num long, den long")
        needs = qdf.crossJoin(F.broadcast(tot)).select(
            "q", F.expr("(num * N + den - 1) div den").cast("long").alias("need")
        )
        exq = rank_select_from_counts(
            vc.groupBy("v").agg(F.sum("__cnt").alias("c")),
            needs,
        ).select("q", F.col("exact").cast("long").alias("exact"))
        out = (
            est.join(est_m, F.col("q") == F.col("__qm"))
            .join(exq, "q")
            .select(
                "q",
                "est_lo",
                "est_hi",
                "est_lo_merged",
                "exact",
                (
                    (F.col("est_lo") <= F.col("exact"))
                    & (F.col("exact") <= F.col("est_hi"))
                ).alias("contains_exact"),
                (
                    (F.col("est_hi") - F.col("est_lo") + 1)
                    <= F.greatest(F.expr("shiftright(est_lo, 4)"), F.lit(1))
                ).alias("within_rel_bound"),
            )
            # pinned_order: freezes the statically-compiled tail and
            # spares the 4-row sort's sampling re-run (XORQ_PIN_ORDER=0
            # exposes the full plan for the plan-shape tests)
            .transform(pinned_order, "q")
        )
    return out


@query(
    "agg_kmv_overlap",
    oracle="""
    WITH pri AS (SELECT o_custkey, o_orderkey, o_orderpriority FROM orders
                 WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
    ah AS (SELECT DISTINCT ('0x' || substr(md5(o_custkey::VARCHAR), 1, 13))::BIGINT AS h
           FROM pri WHERE o_orderpriority = '1-URGENT'),
    bh AS (SELECT DISTINCT ('0x' || substr(md5(o_custkey::VARCHAR), 1, 13))::BIGINT AS h
           FROM pri WHERE o_orderpriority = '2-HIGH'),
    ask AS (SELECT h FROM ah ORDER BY h LIMIT 64),
    bsk AS (SELECT h FROM bh ORDER BY h LIMIT 64),
    ea AS (SELECT CASE WHEN count(*) < 64 THEN count(*)
                       ELSE (63 * 4503599627370496) // max(h) END AS est_a FROM ask),
    eb AS (SELECT CASE WHEN count(*) < 64 THEN count(*)
                       ELSE (63 * 4503599627370496) // max(h) END AS est_b FROM bsk),
    th AS (SELECT least(
             (SELECT CASE WHEN count(*) < 64 THEN 4503599627370496 ELSE max(h) END FROM ask),
             (SELECT CASE WHEN count(*) < 64 THEN 4503599627370496 ELSE max(h) END FROM bsk)
           ) AS theta),
    ab AS (SELECT h FROM ask, th WHERE h < theta),
    bb AS (SELECT h FROM bsk, th WHERE h < theta),
    cm AS (SELECT count(*) AS n_common FROM ab JOIN bb USING (h)),
    ub AS (SELECT count(*) AS n_union_below
           FROM (SELECT h FROM ab UNION SELECT h FROM bb)),
    sh AS (SELECT DISTINCT o_orderkey % 4 AS shard,
                  ('0x' || substr(md5(o_custkey::VARCHAR), 1, 13))::BIGINT AS h
           FROM pri WHERE o_orderpriority = '1-URGENT'),
    shr AS (SELECT h, row_number() OVER (PARTITION BY shard ORDER BY h) AS rn FROM sh),
    mg AS (SELECT DISTINCT h FROM shr WHERE rn <= 64 ORDER BY h LIMIT 64),
    nd AS (SELECT count(*) AS n_direct FROM ask),
    nm AS (SELECT count(*) AS n_merged FROM mg),
    ni AS (SELECT count(*) AS n_both FROM ask JOIN mg USING (h)),
    fl AS (SELECT o_custkey,
                  max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS ia,
                  max(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS ib
           FROM pri GROUP BY 1),
    ex AS (SELECT CAST(SUM(ia) AS BIGINT) AS exact_a,
                  CAST(SUM(ib) AS BIGINT) AS exact_b,
                  CAST(SUM(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS exact_intersection,
                  CAST(count(*) AS BIGINT) AS exact_union
           FROM fl)
    SELECT CAST(est_a AS BIGINT) AS est_a, CAST(est_b AS BIGINT) AS est_b,
           CAST(theta AS BIGINT) AS theta,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(n_union_below AS BIGINT) AS n_union_below,
           CAST((n_common * 4503599627370496) // theta AS BIGINT) AS est_intersection,
           CAST((n_union_below * 4503599627370496) // theta AS BIGINT) AS est_union,
           CAST(CASE WHEN n_union_below = 0 THEN 0
                     ELSE (n_common * 1000000000) // n_union_below END AS BIGINT)
             AS jaccard_ppb,
           exact_a, exact_b, exact_intersection, exact_union,
           (n_direct = n_merged AND n_both = n_direct) AS merged_equals_direct
    FROM ea, eb, th, cm, ub, nd, nm, ni, ex
    """,
)
def agg_kmv_overlap(spark, sf_dir):
    """KMV / theta sketch (functions/sketches.py kmv_*) — the mergeable
    DISTINCT sketch that answers what HLL cannot: SET-OPERATION
    estimates. Two k-row sketches over the urgent- and high-priority
    customer bases yield distinct estimates, an intersection/union/
    Jaccard estimate (theta restriction + hash-sample arithmetic, all
    BIGINT: 52-bit hash space keeps every product inside int64), and a
    4-shard merge rebuild certified identical to the direct sketch.
    The oracle replays hashing, top-k truncation, the (k-1)*M div h_k
    estimator, the theta set algebra, AND the exact ground truth —
    so the row also documents real estimator error at this SF.

    Reference parity: approx_nunique / the DataSketches theta family
    (reference exposes engine-delegated approx distinct aggregates);
    this formulation adds engine-replayable set intersection."""
    from xorq_spark.functions.sketches import (
        kmv_build,
        kmv_estimate,
        kmv_merge,
        kmv_set_estimates,
    )

    K = 64
    o = t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    a_rows = o.where(F.col("o_orderpriority") == "1-URGENT")
    b_rows = o.where(F.col("o_orderpriority") == "2-HIGH")
    sk_a = kmv_build(a_rows, "o_custkey", K)
    sk_b = kmv_build(b_rows, "o_custkey", K)
    est_a = kmv_estimate(sk_a, K).select(F.col("est_distinct").alias("est_a"))
    est_b = kmv_estimate(sk_b, K).select(F.col("est_distinct").alias("est_b"))
    sets = kmv_set_estimates(sk_a, sk_b, K)

    partials = [
        kmv_build(a_rows.where(F.col("o_orderkey") % 4 == s), "o_custkey", K)
        for s in range(4)
    ]
    merged = kmv_merge(*partials, k=K)
    n_d = sk_a.agg(F.count(F.lit(1)).cast("long").alias("n_direct"))
    n_m = merged.agg(F.count(F.lit(1)).cast("long").alias("n_merged"))
    n_i = sk_a.join(merged, "h").agg(
        F.count(F.lit(1)).cast("long").alias("n_both")
    )

    flags = o.groupBy("o_custkey").agg(
        F.max(
            (F.col("o_orderpriority") == "1-URGENT").cast("int")
        ).alias("ia"),
        F.max((F.col("o_orderpriority") == "2-HIGH").cast("int")).alias("ib"),
    )
    exact = flags.agg(
        F.sum("ia").cast("long").alias("exact_a"),
        F.sum("ib").cast("long").alias("exact_b"),
        F.sum(F.expr("CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("exact_intersection"),
        F.count(F.lit(1)).cast("long").alias("exact_union"),
    )
    return (
        est_a.crossJoin(est_b)
        .crossJoin(sets)
        .crossJoin(n_d)
        .crossJoin(n_m)
        .crossJoin(n_i)
        .crossJoin(exact)
        .select(
            "est_a",
            "est_b",
            "theta",
            "n_common",
            "n_union_below",
            "est_intersection",
            "est_union",
            "jaccard_ppb",
            "exact_a",
            "exact_b",
            "exact_intersection",
            "exact_union",
            (
                (F.col("n_direct") == F.col("n_merged"))
                & (F.col("n_both") == F.col("n_direct"))
            ).alias("merged_equals_direct"),
        )
    )


@query(
    "agg_chi2_abtest",
    oracle="""
    WITH e AS (SELECT event_type = 'click' AS g, value > 50 AS s
               FROM events
               WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
    ct AS (SELECT CAST(SUM(CASE WHEN g AND s THEN 1 ELSE 0 END) AS BIGINT) AS a,
                  CAST(SUM(CASE WHEN g AND NOT s THEN 1 ELSE 0 END) AS BIGINT) AS b,
                  CAST(SUM(CASE WHEN NOT g AND s THEN 1 ELSE 0 END) AS BIGINT) AS c,
                  CAST(SUM(CASE WHEN NOT g AND NOT s THEN 1 ELSE 0 END) AS BIGINT) AS d
           FROM e)
    SELECT a, b, c, d, CAST(a + b + c + d AS BIGINT) AS n,
           CAST(CASE WHEN (a+b) = 0 OR (c+d) = 0 OR (a+c) = 0 OR (b+d) = 0
                     THEN 0
                     ELSE (1000000::HUGEINT * (a+b+c+d)
                           * (a*d - b*c) * (a*d - b*c))
                          // ((a+b)::HUGEINT * (c+d) * (a+c) * (b+d))
                END AS BIGINT) AS chi2_ppm,
           CASE WHEN (a+b) = 0 OR (c+d) = 0 OR (a+c) = 0 OR (b+d) = 0
                THEN 0 >= 3841459
                ELSE ((1000000::HUGEINT * (a+b+c+d)
                       * (a*d - b*c) * (a*d - b*c))
                      // ((a+b)::HUGEINT * (c+d) * (a+c) * (b+d))) >= 3841459
           END AS significant_05
    FROM ct
    """,
)
def agg_chi2(spark, sf_dir):
    """2x2 chi-square A/B readout (functions/stats.py chi2_abtest):
    click-vs-view conversion on value>50, contingency built by one
    combinable aggregate (counts travel, never rows) and the statistic
    in exact DECIMAL(38,0)/HUGEINT rational arithmetic (ppm) — the
    BM25 integer discipline applied to experiment analysis, so the
    significance verdict is engine-replayable to the last digit.
    The squared cross-term makes sign irrelevant; degenerate margins
    short-circuit to 0 rather than dividing by zero."""
    from xorq_spark.functions.stats import chi2_abtest

    ev = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
        & F.col("value").isNotNull()
    )
    return chi2_abtest(
        ev, F.col("event_type") == "click", F.col("value") > 50
    )


@query(
    "agg_incremental_refresh",
    oracle="""
    SELECT l_orderkey,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_orderkey % 7 = 0
       OR (l_orderkey % 7 <> 0 AND l_orderkey % 5 <> 0)
    GROUP BY l_orderkey
    ORDER BY l_orderkey
    """,
)
def agg_incremental_refresh(spark, sf_dir):
    """Incremental aggregate maintenance (functions/reconcile.py
    refresh_aggregate) — the materialized-view-refresh shape: a
    per-order aggregate built over the base slice (orderkey % 7 <> 0)
    is folded with a CDC delta of inserts (% 7 = 0 — groups BORN from
    the delta) and whole-group deletes (% 5 = 0 within the base —
    groups whose maintained count hits zero and must VANISH). The fact
    table is never rescanned: the delta pre-aggregates map-side to one
    row per touched key, then one full-outer join merges it into the
    keys-sized aggregate. The oracle recomputes the refreshed state
    from scratch over the final fact set, so a wrong merged sum, a
    lingering deleted group, or a missing born group breaks the
    hash."""
    from xorq_spark.functions.reconcile import refresh_aggregate

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_quantity").cast("decimal(18,2)").alias("l_quantity"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias(
            "l_extendedprice"
        ),
    )
    # Round-10 negative result (recorded, do not retry): widening the
    # 3-column projection and pinning it behind the q18-style scan-size
    # gate measured FLAT-to-slightly-worse (interleaved A/B min
    # 1.496 unpinned vs 1.531 pinned, med 1.71 vs 1.78) — the decimal
    # partial aggregates are map-side-combinable, so the under-parallel
    # scan's per-task cost is already the q1-class floor the r09 widen
    # A/B found; the pin's materialization barrier eats the rebalance
    # gain.
    base = li.where(F.expr("l_orderkey % 7 <> 0"))
    base_agg = base.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("l_quantity").alias("sum_l_quantity"),
        F.sum("l_extendedprice").alias("sum_l_extendedprice"),
    )
    inserts = li.where(F.expr("l_orderkey % 7 = 0")).withColumn(
        "sign", F.lit(1)
    )
    deletes = base.where(F.expr("l_orderkey % 5 = 0")).withColumn(
        "sign", F.lit(-1)
    )
    changes = inserts.unionByName(deletes)
    out = refresh_aggregate(
        base_agg,
        changes,
        keys=["l_orderkey"],
        measures=["l_quantity", "l_extendedprice"],
    )
    return out.select(
        "l_orderkey",
        "n_rows",
        money_out(F.col("sum_l_quantity")).alias("sum_qty"),
        money_out(F.col("sum_l_extendedprice")).alias("sum_price"),
    ).orderBy("l_orderkey")


@query(
    "agg_hll_rolling",
    oracle="""
    WITH ev AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
                FROM events
                WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    p AS (SELECT DISTINCT d, user_id FROM ev),
    days AS (SELECT DISTINCT d FROM p),
    roll AS (SELECT days.d,
                    CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_roll_exact
             FROM days JOIN p ON p.d BETWEEN days.d - 6 AND days.d
             GROUP BY days.d),
    daily AS (SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS n_day_exact
              FROM p GROUP BY d)
    SELECT CAST(daily.d - DATE '1970-01-01' AS BIGINT) AS day,
           daily.n_day_exact, roll.n_roll_exact,
           TRUE AS day_within_2pct, TRUE AS roll_within_2pct
    FROM daily JOIN roll ON daily.d = roll.d
    ORDER BY day
    """,
)
def agg_hll_rolling(spark, sf_dir):
    """Rolling distinct users per trailing 7-day window via mergeable
    HLL sketches — the production dashboard shape at 100 TB: daily
    sketches are built ONCE from the raw events (fixed-size binaries),
    and every trailing window is a UNION of 7 sketches, never a rescan
    of raw data; yesterday's dashboards update by merging one new
    daily sketch. Exact counts ride along (distinct-pair explode over
    the bounded 7-day fan-out) so the oracle pins them, and the sketch
    estimates are certified within 2% as booleans — the falsifiable
    accuracy claim with an engine-independent hash (agg_hll_sketch
    precedent)."""
    ev = (
        t(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.datediff(
                F.col("ts").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).cast("long").alias("day"),
            "user_id",
        )
    )
    pairs = ev.distinct()
    days = pairs.select("day").distinct()
    # exact rolling: each (day, user) pair serves targets day..day+6
    ex = (
        pairs.select(
            F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias(
                "day2"
            ),
            "user_id",
        )
        .join(days.withColumnRenamed("day", "day2"), "day2")
        .groupBy("day2")
        .agg(F.count_distinct("user_id").alias("n_roll_exact"))
    )
    daily = pairs.groupBy("day").agg(
        F.count_distinct("user_id").alias("n_day_exact"),
        F.hll_sketch_agg("user_id").alias("__sk"),
    )
    # sketch rolling: daily sketches fan out over the same 7 targets
    roll_sk = (
        daily.select(
            F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias(
                "day2"
            ),
            "__sk",
        )
        .join(days.withColumnRenamed("day", "day2"), "day2")
        .groupBy("day2")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("__rest"))
    )
    return (
        daily.withColumn(
            "__dest", F.hll_sketch_estimate(F.col("__sk"))
        )
        .join(ex.withColumnRenamed("day2", "day"), "day")
        .join(roll_sk.withColumnRenamed("day2", "day"), "day")
        .select(
            "day",
            "n_day_exact",
            "n_roll_exact",
            (
                F.abs(F.col("__dest") - F.col("n_day_exact"))
                <= 0.02 * F.col("n_day_exact")
            ).alias("day_within_2pct"),
            (
                F.abs(F.col("__rest") - F.col("n_roll_exact"))
                <= 0.02 * F.col("n_roll_exact")
            ).alias("roll_within_2pct"),
        )
        .orderBy("day")
    )


@query(
    "agg_market_basket",
    oracle="""
    WITH b AS (SELECT DISTINCT user_id AS u, event_type AS i
               FROM events
               WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
    n AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS N FROM b),
    it AS (SELECT i, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY i),
    pc AS (SELECT x.i AS item_a, y.i AS item_b,
                  CAST(count(*) AS BIGINT) AS n_pair
           FROM b x JOIN b y ON x.u = y.u AND x.i < y.i
           GROUP BY 1, 2 HAVING count(*) >= 2)
    SELECT item_a, item_b, n_pair,
           a.c AS n_a, bb.c AS n_b,
           CAST(n_pair * 1000000 // N AS BIGINT) AS support_ppm,
           CAST(n_pair * 1000000 // a.c AS BIGINT) AS conf_a_to_b_ppm,
           CAST(n_pair * 1000000 // bb.c AS BIGINT) AS conf_b_to_a_ppm,
           CAST(CAST(n_pair AS HUGEINT) * N * 1000000
                // (CAST(a.c AS HUGEINT) * bb.c) AS BIGINT) AS lift_e6
    FROM pc
    JOIN it a ON pc.item_a = a.i
    JOIN it bb ON pc.item_b = bb.i, n
    ORDER BY item_a, item_b
    """,
)
def agg_market_basket(spark, sf_dir):
    """Pairwise association mining (functions/stats.py
    market_basket_pairs) over user x event_type baskets: exact ppm
    support, both-direction confidence, and DECIMAL(38,0)/HUGEINT lift
    for every pair co-occurring in 2+ baskets. Pairs are generated
    array-side per basket (sorted set + triangular transform — no
    basket self-join, hot baskets never re-shuffle); the oracle
    regenerates them with a literal self-join, so the two pair
    constructions must agree exactly."""
    from xorq_spark.functions.stats import market_basket_pairs

    ev = t(spark, sf_dir, "events")
    return market_basket_pairs(
        ev, basket_col="user_id", item_col="event_type", min_pair_count=2
    ).orderBy("item_a", "item_b")


@query(
    "agg_cuped_readout",
    oracle="""
    WITH d AS (
      SELECT l_returnflag AS arm,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS y,
             CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM lineitem),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
                 CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
                 CAST(sum(CAST(y AS HUGEINT) * x) AS HUGEINT) AS sxy,
                 CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
          FROM d),
    a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS say,
                 CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sax
          FROM d GROUP BY arm)
    SELECT arm, n_rows,
           CAST(say AS BIGINT) AS sum_y,
           CAST(sax AS BIGINT) AS sum_x,
           ROUND(CAST(say AS DOUBLE) / CAST(n_rows AS DOUBLE), 9)
             AS mean_y,
           ROUND(CAST(say AS DOUBLE) / CAST(n_rows AS DOUBLE)
             - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
               * (CAST(sax AS DOUBLE) / CAST(n_rows AS DOUBLE)
                  - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 9)
             AS adj_mean_y,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9)
             AS theta
    FROM a, g ORDER BY arm
    """,
)
def agg_cuped_readout(spark, sf_dir):
    """CUPED variance-reduced experiment readout (functions/stats.py
    cuped_adjust): revenue cents adjusted by the quantity covariate
    per returnflag arm. The five sufficient statistics are exact
    DECIMAL(38,0)/HUGEINT integers the oracle recomputes from scratch;
    theta and the adjusted means are IEEE doubles derived from those
    integers by the identical expression tree on both engines, rounded
    to 9 digits."""
    from xorq_spark.functions.stats import cuped_adjust

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("arm"),
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("y"),
        F.expr(
            "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("x"),
    )
    return cuped_adjust(li, y_col="y", x_col="x", arm_col="arm").orderBy(
        "arm"
    )


@query(
    "agg_bootstrap_ci",
    oracle="""
    WITH d AS (
      SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS x,
             CAST(l_orderkey * 10 + l_linenumber AS VARCHAR) AS k
      FROM lineitem),
    h AS (SELECT x, md5('bs|' || k) AS dig FROM d),
    v AS (SELECT x,
                 (('0x' || substr(dig, 1, 8))::BIGINT) % 2147483647 AS v1,
                 greatest((('0x' || substr(dig, 17, 8))::BIGINT)
                          % 2147483647, 1) AS v2
          FROM h),
    ex AS (SELECT x, v1, v2, unnest(range(1, 41)) AS b FROM v),
    u AS (SELECT x, CAST(b AS BIGINT) AS b,
                 ((v1 + v2 * b) % 2147483647) % 1000000 AS uu
          FROM ex),
    w AS (SELECT x, b,
                 len(list_filter([367879, 735759, 919699, 981012,
                                  996340, 999406, 999917, 999990],
                     t -> uu >= t)) AS w
          FROM u),
    per AS (SELECT b, CAST(sum(w * x) AS BIGINT) AS swx,
                   CAST(sum(w) AS BIGINT) AS sw
            FROM w GROUP BY b HAVING sum(w) > 0),
    m AS (SELECT b, CAST(CAST(swx AS HUGEINT) * 1000000
                         // CAST(sw AS HUGEINT) AS BIGINT) AS mm
          FROM per),
    r AS (SELECT mm, row_number() OVER (ORDER BY mm, b) AS rr,
                 count(*) OVER () AS BB
          FROM m),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(CAST(sum(x) AS HUGEINT) * 1000000
                       // count(*) AS BIGINT) AS point_mean_e6
           FROM d)
    SELECT st.n, st.point_mean_e6,
           (SELECT mm FROM r WHERE rr = (5 * BB + 99) // 100)
             AS ci_lo_e6,
           (SELECT mm FROM r WHERE rr = (95 * BB + 99) // 100)
             AS ci_hi_e6,
           (SELECT CAST(max(BB) AS BIGINT) FROM r) AS n_resamples
    FROM st
    """,
)
def agg_bootstrap_ci(spark, sf_dir):
    """Deterministic Poisson bootstrap CI (functions/stats.py
    bootstrap_mean_ci, Chamandy et al. 2012) for mean quantity cents:
    40 resamples whose per-row weights are a pure function of (seed,
    resample, row key) — one md5 per row seeds a Carter-Wegman
    pairwise-independent uniform expansion mod 2^31-1, driven through
    the fixed Poisson(1) inverse-CDF table — the bootstrap an external
    engine can REPLAY. Resample means and the exact type-1 CI bounds
    are integer rationals. NO data-sized shuffle anywhere: Catalyst
    computes each row's md5 digest halves, an Arrow stage folds every
    partition into one partial row of 2B+2 sums, and one Python task
    sums the partial rows and reads out the CI — 3 Spark jobs where
    the former checkpoint-pinned partials + SQL readout ran 12. The
    oracle recomputes every weight, every resample mean, and both
    bounds."""
    from xorq_spark.functions.stats import bootstrap_mean_ci

    li = t(spark, sf_dir, "lineitem").select(
        F.expr(
            "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(l_orderkey * 10 + l_linenumber AS STRING)"
        ).alias("k"),
    )
    return bootstrap_mean_ci(
        li, value_col="x", key_col="k", n_resamples=40,
        lo_pct=5, hi_pct=95, seed="bs",
    )


@query(
    "agg_mann_whitney",
    oracle="""
    WITH s AS (SELECT value AS v,
                      CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS a
               FROM events WHERE value IS NOT NULL),
    dv AS (SELECT v, CAST(sum(a) AS BIGINT) AS ca,
                  CAST(sum(1 - a) AS BIGINT) AS cb
           FROM s GROUP BY v),
    c AS (SELECT ca, cb, ca + cb AS t,
                 sum(ca + cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) - (ca + cb) AS prev
          FROM dv),
    g AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                 CAST(sum(cb) AS BIGINT) AS n_b,
                 CAST(sum(ca * (2 * prev + t + 1)) AS BIGINT) AS ra2,
                 CAST(sum(t * t * t - t) AS BIGINT) AS tie_cube_sum
          FROM c)
    SELECT n_a, n_b,
           CAST(ra2 - n_a * (n_a + 1) AS BIGINT) AS u2_a,
           CAST(2 * n_a * n_b - (ra2 - n_a * (n_a + 1)) AS BIGINT)
             AS u2_b,
           tie_cube_sum,
           ROUND((CAST(ra2 - n_a * (n_a + 1) AS DOUBLE)
                  - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                 / (2.0 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                    / 12.0
                    * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
                       - CAST(tie_cube_sum AS DOUBLE)
                         / (CAST(n_a + n_b AS DOUBLE)
                            * (CAST(n_a + n_b AS DOUBLE) - 1.0))))), 9)
             AS z
    FROM g
    """,
)
def agg_mann_whitney(spark, sf_dir):
    """Exact Mann-Whitney U between the even- and odd-event metric
    samples (functions/stats.py mann_whitney_u): tied ranks as doubled
    integers straight off the bounded distinct-value cumulative table
    (no per-row window, no float average rank); 2*U and the
    tie-correction sum are engine-exact integers, and the
    tie-corrected z is an identical IEEE expression tree rounded 9.
    The oracle replays ranks, both U statistics, and z."""
    from xorq_spark.functions.stats import mann_whitney_u

    ev = t(spark, sf_dir, "events")
    old = ev.where(F.expr("event_id % 2 = 0")).select("value")
    new = ev.where(F.expr("event_id % 2 = 1")).select("value")
    return mann_whitney_u(old, new)


@query(
    "agg_regression",
    oracle="""
    SELECT event_type,
           CAST(regr_count(value, CAST(user_id AS DOUBLE)) AS BIGINT) AS n,
           ROUND(regr_slope(value, CAST(user_id AS DOUBLE)), 6) AS slope,
           ROUND(regr_intercept(value, CAST(user_id AS DOUBLE)), 6) AS icept,
           ROUND(regr_r2(value, CAST(user_id AS DOUBLE)), 9) AS r2,
           ROUND(regr_avgx(value, CAST(user_id AS DOUBLE)), 6) AS avgx,
           ROUND(regr_avgy(value, CAST(user_id AS DOUBLE)), 6) AS avgy
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def agg_regression(spark, sf_dir):
    """Per-group OLS via the SQL-standard regr_* aggregate family
    (slope/intercept/R2/count/avgx/avgy) — the distributed linear-fit
    path: one combinable aggregate pass (sums + cross-moments), no
    matrix libraries, no collect. Mirrors the reference's builtin-agg
    surface (ref expr/udf.py agg.builtin); rounding convention as
    agg_stats_moments."""
    y = F.col("value")
    x = F.col("user_id").cast("double")
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.regr_count(y, x).cast("long").alias("n"),
            F.round(F.regr_slope(y, x), 6).alias("slope"),
            F.round(F.regr_intercept(y, x), 6).alias("icept"),
            F.round(F.regr_r2(y, x), 9).alias("r2"),
            F.round(F.regr_avgx(y, x), 6).alias("avgx"),
            F.round(F.regr_avgy(y, x), 6).alias("avgy"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_weighted_quantiles",
    oracle="""
    WITH w AS (SELECT lang, n_chars AS v, doc_id % 7 + 1 AS wt
               FROM documents WHERE n_chars IS NOT NULL),
    c AS (SELECT lang, v, CAST(sum(wt) AS BIGINT) AS w FROM w GROUP BY 1, 2),
    cum AS (SELECT lang, v,
                   CAST(sum(w) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cum,
                   CAST(sum(w) OVER (PARTITION BY lang) AS BIGINT) AS tw
            FROM c)
    SELECT lang,
           CAST(max(tw) AS BIGINT) AS total_weight,
           min(CASE WHEN cum >= (1 * tw + 3) // 4 THEN v END) AS p25,
           min(CASE WHEN cum >= (1 * tw + 1) // 2 THEN v END) AS p50,
           min(CASE WHEN cum >= (9 * tw + 9) // 10 THEN v END) AS p90
    FROM cum GROUP BY lang ORDER BY lang
    """,
)
def agg_weighted_quantiles(spark, sf_dir):
    """Exact token-weighted length percentiles per language
    (functions/stats.py weighted_quantiles): the quantile of the
    WEIGHT mass, not the row count — "half the corpus tokens live in
    documents shorter than X". Type-1 integer rank arithmetic off a
    distinct-value weight cumsum (bounded by value cardinality); the
    corpus never sorts."""
    from xorq_spark.functions.stats import weighted_quantiles

    docs = t(spark, sf_dir, "documents").select(
        "lang", "n_chars", (F.col("doc_id") % 7 + 1).alias("wt")
    )
    return weighted_quantiles(
        docs, "n_chars", "wt", ["lang"],
        qs={"p25": (1, 4), "p50": (1, 2), "p90": (9, 10)},
    ).orderBy("lang")


@query(
    "agg_benford_digits",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority,
             CAST(substring(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR),
                            1, 1) AS BIGINT) AS digit
      FROM orders WHERE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) > 0),
    counts AS (SELECT o_orderpriority, digit, count(*) AS n FROM b GROUP BY 1, 2),
    tot AS (SELECT o_orderpriority, count(*) AS t FROM b GROUP BY 1),
    grid AS (SELECT o_orderpriority, t, d.digit
             FROM tot, (SELECT unnest(range(1, 10)) AS digit) d),
    j AS (SELECT g.o_orderpriority, g.digit,
                 CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
                 CAST(COALESCE(c.n, 0) * 1000000 // g.t AS BIGINT) AS obs_ppm,
                 CAST(CASE g.digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
                      WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
                      WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
                      WHEN 9 THEN 45757 END AS BIGINT) AS exp_ppm
          FROM grid g LEFT JOIN counts c
          ON g.o_orderpriority = c.o_orderpriority AND g.digit = c.digit)
    SELECT o_orderpriority, digit, n, obs_ppm, exp_ppm,
           obs_ppm - exp_ppm AS dev_ppm,
           CAST(CAST(obs_ppm - exp_ppm AS HUGEINT) * (obs_ppm - exp_ppm)
                * 1000000 // exp_ppm AS BIGINT) AS chi2_contrib_e6
    FROM j ORDER BY o_orderpriority, digit
    """,
)
def agg_benford_digits(spark, sf_dir):
    """Benford first-digit audit over order totals in cents
    (functions/stats.py benford_deviation): observed vs expected
    log-law digit shares in ppm + per-digit chi-square contributions,
    all integer (the first digit comes from the BIGINT string form —
    no float log10 on either engine). One combinable groupBy; the
    9-digit grid keeps absent digits reporting n=0."""
    from xorq_spark.functions.stats import benford_deviation

    orders = t(spark, sf_dir, "orders")
    return benford_deviation(
        orders,
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"),
        ["o_orderpriority"],
    ).orderBy("o_orderpriority", "digit")


@query(
    "agg_dp_noisy_counts",
    oracle=None,  # set below (needs the shared Laplace table)
)
def agg_dp_noisy_counts(spark, sf_dir):
    """Seeded-Laplace DP-mechanism noisy counts per event type
    (functions/stats.py dp_noisy_counts, epsilon=1/2, sensitivity 1):
    the counting-query release shape with deterministic md5
    inverse-CDF noise off a precomputed 64-bucket Laplace midpoint
    table (no runtime float log on either engine; real deployments
    swap the seed per release). One combinable groupBy; md5 runs once
    per group."""
    from xorq_spark.functions.stats import dp_noisy_counts

    ev = t(spark, sf_dir, "events")
    return dp_noisy_counts(
        ev, ["event_type"], epsilon=(1, 2), sensitivity=1, seed="dp0"
    ).orderBy("event_type")


def _dp_oracle() -> str:
    from xorq_spark.functions.stats import LAPLACE64_E6

    case = "CASE bkt " + " ".join(
        f"WHEN {i} THEN {m}" for i, m in enumerate(LAPLACE64_E6)
    ) + " END"
    return f"""
    WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY event_type),
    h AS (SELECT event_type, n,
                 ('0x' || substr(md5('dp0|' || event_type), 1, 8))::BIGINT % 64
                   AS bkt
          FROM g),
    z AS (SELECT event_type, n,
                 CAST(CASE WHEN ({case}) < 0
                      THEN -((-(({case}) * 1 * 2)) // 1)
                      ELSE (({case}) * 1 * 2) // 1 END AS BIGINT) AS noise_e6
          FROM h)
    SELECT event_type, n, noise_e6,
           CAST(n * 1000000 + noise_e6 AS BIGINT) AS noisy_count_e6
    FROM z ORDER BY event_type
    """


from xorq_spark.queries.base import ORACLES as _OR  # noqa: E402

_OR["agg_dp_noisy_counts"] = _dp_oracle()


@query(
    "agg_gini_hhi",
    oracle="""
    WITH e AS (
      SELECT c.c_mktsegment AS seg, o.o_custkey AS ent,
             CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    c1 AS (SELECT seg, x, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2),
    cum AS (SELECT seg, x, c,
                   CAST(sum(c) OVER (PARTITION BY seg ORDER BY x) AS BIGINT)
                     AS cum
            FROM c1),
    g AS (SELECT seg,
                 CAST(sum(c) AS BIGINT) AS n_entities,
                 CAST(sum(x * c) AS BIGINT) AS total,
                 sum(CAST(x AS HUGEINT) * c * (2 * cum - c + 1)) AS r2,
                 sum(CAST(x AS HUGEINT) * x * c) AS sq
          FROM cum GROUP BY seg)
    SELECT seg, n_entities, total,
           CAST((r2 - CAST(n_entities + 1 AS HUGEINT) * total) * 1000000
                // (CAST(n_entities AS HUGEINT) * total) AS BIGINT)
             AS gini_ppm,
           CAST(sq * 1000000 // (CAST(total AS HUGEINT) * total) AS BIGINT)
             AS hhi_e6
    FROM g ORDER BY seg
    """,
)
def agg_gini_hhi(spark, sf_dir):
    """Revenue-concentration readout per market segment
    (functions/stats.py gini_hhi): Gini coefficient of per-customer
    revenue (cents) and the HHI of customer shares, both exact integer
    rationals (ppm / 1e-6). The Gini rank sum comes off the
    distinct-value cumsum table — tie-safe closed form, customers
    never globally sort."""
    from xorq_spark.functions.stats import gini_hhi

    o = t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("__cents"),
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    ent = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("o_custkey").alias("ent"))
        .agg(F.sum("__cents").cast("long").alias("x"))
    )
    return gini_hhi(ent, "x", ["seg"]).orderBy("seg")


@query(
    "agg_welch_ttest",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
      FROM events WHERE event_type IN ('click', 'view')
        AND value IS NOT NULL),
    g AS (SELECT CAST(sum(a) AS BIGINT) AS n_a,
                 CAST(sum(1 - a) AS BIGINT) AS n_b,
                 CAST(sum(a * x) AS BIGINT) AS sa,
                 CAST(sum((1 - a) * x) AS BIGINT) AS sb,
                 CAST(sum(a * x * x) AS BIGINT) AS qa,
                 CAST(sum((1 - a) * x * x) AS BIGINT) AS qb
          FROM d),
    v AS (SELECT n_a, n_b,
                 CAST(CAST(sa AS HUGEINT) * 1000000 // n_a AS BIGINT)
                   AS mean_a_e6,
                 CAST(CAST(sb AS HUGEINT) * 1000000 // n_b AS BIGINT)
                   AS mean_b_e6,
                 (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                    / CAST(n_a AS DOUBLE))
                   / (CAST(n_a AS DOUBLE) - 1.0) / CAST(n_a AS DOUBLE) AS va,
                 (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                    / CAST(n_b AS DOUBLE))
                   / (CAST(n_b AS DOUBLE) - 1.0) / CAST(n_b AS DOUBLE) AS vb,
                 CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)
                   - CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) AS md
          FROM g)
    SELECT n_a, n_b, mean_a_e6, mean_b_e6,
           round(md / sqrt(va + vb), 9) AS t_stat,
           round((va + vb) * (va + vb)
                 / (va * va / (CAST(n_a AS DOUBLE) - 1.0)
                    + vb * vb / (CAST(n_b AS DOUBLE) - 1.0)), 6) AS welch_df
    FROM v
    """,
)
def agg_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance t-test (functions/stats.py
    welch_ttest) comparing click vs view event values in cents: one
    combinable pass collects exact integer sufficient statistics; t
    and the Welch-Satterthwaite df are fixed IEEE trees over them
    (+,-,*,/,sqrt only — engine-bit-identical), rounded 9/6. The
    experiment-stats tier's parametric member beside Mann-Whitney,
    chi-square, CUPED, and the bootstrap CI."""
    from xorq_spark.functions.stats import welch_ttest

    ev = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    ).select(
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("x"),
        (F.col("event_type") == "click").alias("is_a"),
    )
    return welch_ttest(ev, "x", F.col("is_a"))


@query(
    "agg_mode_exact",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    c AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
          FROM d GROUP BY 1, 2),
    m AS (SELECT event_type,
                 arg_max(v, CAST(c AS HUGEINT) * 1000000000000 - v)
                   AS mode_cents,
                 CAST(max(c) AS BIGINT) AS mode_count,
                 CAST(count(*) AS BIGINT) AS n_distinct
          FROM c GROUP BY event_type)
    SELECT event_type, CAST(mode_cents AS BIGINT) AS mode_cents,
           mode_count, n_distinct
    FROM m ORDER BY event_type
    """,
)
def agg_mode_exact(spark, sf_dir):
    """Exact per-group mode with a deterministic tie-break (highest
    count, then SMALLEST value — encoded as max_by over (count, -v) on
    both engines): the categorical summary aggregate SQL's
    approx-mode/any-value can't certify. Two combinable groupBys; the
    value domain bounds the second."""
    ev = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = ev.groupBy(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    return (
        c.groupBy("event_type")
        .agg(
            F.expr(
                "max_by(v, CAST(c AS DECIMAL(38,0)) * 1000000000000 - v)"
            ).cast("long").alias("mode_cents"),
            F.max("c").cast("long").alias("mode_count"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_price_volume_mix",
    oracle="""
    WITH li AS (
      SELECT l_partkey AS pk,
             CAST(extract(year FROM l_shipdate) AS BIGINT) AS y,
             CAST(l_quantity AS BIGINT) AS q,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS r
      FROM lineitem
      WHERE extract(year FROM l_shipdate) IN (1998, 1999)),
    p AS (SELECT pk,
                 CAST(sum(CASE WHEN y = 1998 THEN q ELSE 0 END) AS BIGINT) AS q0,
                 CAST(sum(CASE WHEN y = 1998 THEN r ELSE 0 END) AS BIGINT) AS r0,
                 CAST(sum(CASE WHEN y = 1999 THEN q ELSE 0 END) AS BIGINT) AS q1,
                 CAST(sum(CASE WHEN y = 1999 THEN r ELSE 0 END) AS BIGINT) AS r1
          FROM li GROUP BY pk),
    eff AS (
      SELECT
        CAST(sum(r0) AS BIGINT) AS rev0,
        CAST(sum(r1) AS BIGINT) AS rev1,
        CAST(sum(CASE WHEN q0 > 0 AND q1 > 0 THEN
              CASE WHEN q1 >= q0 THEN
                CAST(q1 - q0 AS HUGEINT) * r0 * 1000000 // q0
              ELSE -(CAST(q0 - q1 AS HUGEINT) * r0 * 1000000 // q0) END
              ELSE 0 END) AS BIGINT) AS volume_effect_e6,
        CAST(sum(CASE WHEN q0 > 0 AND q1 > 0 THEN
              CAST(r1 AS HUGEINT) * 1000000
              - CAST(q1 AS HUGEINT) * r0 * 1000000 // q0
              ELSE 0 END) AS BIGINT) AS price_effect_e6,
        CAST(sum(CASE WHEN q0 = 0 THEN r1 ELSE 0 END) AS BIGINT)
          AS new_parts_rev,
        CAST(sum(CASE WHEN q1 = 0 THEN r0 ELSE 0 END) AS BIGINT)
          AS churned_parts_rev
      FROM p)
    SELECT rev0, rev1, rev1 - rev0 AS delta_cents,
           volume_effect_e6, price_effect_e6,
           new_parts_rev, churned_parts_rev
    FROM eff
    """,
)
def agg_price_volume_mix(spark, sf_dir):
    """Price/volume decomposition of the 1998->1999 revenue change —
    the FP&A bridge: for parts sold in BOTH years, delta splits
    exactly into (q1-q0)*p0 (volume) + q1*(p1-p0) (price) with p = the
    per-part average unit price as a 1e-6 rational (defined with
    per-part floor division — engine-exact); parts appearing or
    disappearing report as new/churned revenue buckets. One combinable
    part x year rollup; everything downstream is one aggregate."""
    li = t(spark, sf_dir, "lineitem").where(
        F.year("l_shipdate").isin(1998, 1999)
    ).select(
        F.col("l_partkey").alias("pk"),
        F.year("l_shipdate").cast("long").alias("y"),
        F.col("l_quantity").cast("long").alias("q"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("r"),
    )
    p = li.groupBy("pk").agg(
        F.sum(F.when(F.col("y") == 1998, F.col("q")).otherwise(0))
        .cast("long").alias("q0"),
        F.sum(F.when(F.col("y") == 1998, F.col("r")).otherwise(0))
        .cast("long").alias("r0"),
        F.sum(F.when(F.col("y") == 1999, F.col("q")).otherwise(0))
        .cast("long").alias("q1"),
        F.sum(F.when(F.col("y") == 1999, F.col("r")).otherwise(0))
        .cast("long").alias("r1"),
    )
    eff = p.agg(
        F.sum("r0").cast("long").alias("rev0"),
        F.sum("r1").cast("long").alias("rev1"),
        # sign-split: the numerator is negative when volume shrinks and
        # Spark div truncates while DuckDB // floors — divide the
        # magnitude, reapply the sign (identical on both engines)
        F.expr(
            "CAST(sum(CASE WHEN q0 > 0 AND q1 > 0 THEN"
            " CASE WHEN q1 >= q0 THEN"
            " CAST(q1 - q0 AS DECIMAL(38,0)) * r0 * 1000000 div q0"
            " ELSE -(CAST(q0 - q1 AS DECIMAL(38,0)) * r0 * 1000000 div q0)"
            " END ELSE 0 END) AS BIGINT)"
        ).alias("volume_effect_e6"),
        F.expr(
            "CAST(sum(CASE WHEN q0 > 0 AND q1 > 0 THEN"
            " CAST(r1 AS DECIMAL(38,0)) * 1000000"
            " - CAST(q1 AS DECIMAL(38,0)) * r0 * 1000000 div q0"
            " ELSE 0 END) AS BIGINT)"
        ).alias("price_effect_e6"),
        F.expr(
            "CAST(sum(CASE WHEN q0 = 0 THEN r1 ELSE 0 END) AS BIGINT)"
        ).alias("new_parts_rev"),
        F.expr(
            "CAST(sum(CASE WHEN q1 = 0 THEN r0 ELSE 0 END) AS BIGINT)"
        ).alias("churned_parts_rev"),
    )
    return eff.select(
        "rev0", "rev1",
        (F.col("rev1") - F.col("rev0")).alias("delta_cents"),
        "volume_effect_e6", "price_effect_e6",
        "new_parts_rev", "churned_parts_rev",
    )


@query(
    "agg_rfm_segmentation",
    oracle="""
    WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
    base AS (
      SELECT o_custkey AS ck,
             date_diff('day', max(CAST(o_orderdate AS DATE)),
                       (SELECT d1 FROM mx)) AS r,
             CAST(count(*) AS BIGINT) AS f,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS m
      FROM orders GROUP BY o_custkey),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
    rs AS (SELECT r AS v,
                  CAST(sum(count(*)) OVER (ORDER BY r DESC) AS BIGINT) AS cum
           FROM base GROUP BY r),
    fs AS (SELECT f AS v,
                  CAST(sum(count(*)) OVER (ORDER BY f) AS BIGINT) AS cum
           FROM base GROUP BY f),
    ms AS (SELECT m AS v,
                  CAST(sum(count(*)) OVER (ORDER BY m) AS BIGINT) AS cum
           FROM base GROUP BY m),
    sc AS (
      SELECT b.ck, b.m,
             CAST((rs.cum * 5 + n.n - 1) // n.n AS BIGINT) AS r_score,
             CAST((fs.cum * 5 + n.n - 1) // n.n AS BIGINT) AS f_score,
             CAST((ms.cum * 5 + n.n - 1) // n.n AS BIGINT) AS m_score
      FROM base b
      JOIN rs ON b.r = rs.v JOIN fs ON b.f = fs.v JOIN ms ON b.m = ms.v
      CROSS JOIN n)
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(m) AS BIGINT) AS total_monetary_cents
    FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def agg_rfm_segmentation(spark, sf_dir):
    """RFM customer segmentation — recency/frequency/monetary quintile
    scores (5 = best: most recent, most frequent, highest spend) with
    TIE-SAFE value-level quintiles: a whole tie block shares the score
    ceil(cum*5/n) off its distinct-value cumsum (no NTILE row-lottery,
    which is engine-nondeterministic on ties). Each dimension's cumsum
    runs through the two-level prefix operator; score maps join back
    on the value equi-key. Output: the 125-cell segment grid with
    customer counts and monetary totals."""
    from xorq_spark.operators.prefix import running_sum

    o = t(spark, sf_dir, "orders")
    mx = o.agg(F.max(F.to_date("o_orderdate")).alias("d1"))
    base = (
        o.groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.max(F.to_date("o_orderdate")).alias("__last"),
            F.count(F.lit(1)).cast("long").alias("f"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).cast("long").alias("m"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "ck", F.datediff("d1", "__last").cast("long").alias("r"),
            "f", "m",
        )
    )
    n = base.agg(F.count(F.lit(1)).cast("long").alias("n"))

    def scoremap(col, descending):
        dv = base.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("__c")
        )
        cum = running_sum(dv, "v", "__c", "cum", descending=descending)
        return cum.crossJoin(F.broadcast(n)).select(
            F.col("v").alias(f"__{col}v"),
            F.expr("CAST((cum * 5 + n - 1) div n AS BIGINT)")
            .alias(f"{col}_score"),
        )

    sc = (
        base.join(scoremap("r", True), base.r == F.col("__rv"))
        .join(scoremap("f", False), base.f == F.col("__fv"))
        .join(scoremap("m", False), base.m == F.col("__mv"))
    )
    return (
        sc.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("m").cast("long").alias("total_monetary_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@query(
    "agg_wilson_ci",
    oracle="""
    WITH d AS (
      SELECT user_id % 2 AS variant,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    g AS (SELECT CAST(variant AS BIGINT) AS variant,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS k
          FROM d GROUP BY 1)
    SELECT variant, n, k,
           CAST(k * 1000000 // n AS BIGINT) AS rate_ppm,
           round((CAST(k AS DOUBLE) + 1.9208)
                 / (CAST(n AS DOUBLE) + 3.8416)
                 - (1.96 * sqrt((CAST(k AS DOUBLE)
                      * (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
                      / CAST(n AS DOUBLE)) + 0.9604))
                   / (CAST(n AS DOUBLE) + 3.8416), 9) AS wilson_lo,
           round((CAST(k AS DOUBLE) + 1.9208)
                 / (CAST(n AS DOUBLE) + 3.8416)
                 + (1.96 * sqrt((CAST(k AS DOUBLE)
                      * (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
                      / CAST(n AS DOUBLE)) + 0.9604))
                   / (CAST(n AS DOUBLE) + 3.8416), 9) AS wilson_hi
    FROM g ORDER BY variant
    """,
)
def agg_wilson_ci(spark, sf_dir):
    """Wilson 95% score interval for per-variant conversion rates —
    the proportion CI that behaves at small n and extreme rates where
    the normal approximation fails (the standard dashboard interval).
    Exact integer sufficient statistics (n, k); the bounds are one
    fixed IEEE tree (+,-,*,/,sqrt with z=1.96 constants: z^2/2=1.9208,
    z^2=3.8416, z^2^2/4=0.9604), rounded 9 — engine-bit-identical.
    One combinable groupBy."""
    ev = t(spark, sf_dir, "events")
    g = ev.select(
        (F.col("user_id") % 2).cast("long").alias("variant"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    ).groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("k"),
    )
    lo = (
        "(CAST(k AS DOUBLE) + 1.9208) / (CAST(n AS DOUBLE) + 3.8416)"
        " - (1.96 * sqrt((CAST(k AS DOUBLE)"
        " * (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))"
        " / CAST(n AS DOUBLE)) + 0.9604)) / (CAST(n AS DOUBLE) + 3.8416)"
    )
    hi = lo.replace(" - (1.96", " + (1.96")
    return g.select(
        "variant", "n", "k",
        F.expr("CAST(k * 1000000 div n AS BIGINT)").alias("rate_ppm"),
        F.round(F.expr(lo), 9).alias("wilson_lo"),
        F.round(F.expr(hi), 9).alias("wilson_hi"),
    ).orderBy("variant")


@query(
    "agg_hill_tail_index",
    oracle="""
    WITH d AS (
      SELECT o_orderpriority AS prio,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x
      FROM orders WHERE o_totalprice > 0),
    r AS (SELECT prio, x,
                 row_number() OVER (PARTITION BY prio
                                    ORDER BY x DESC, x) AS rn
          FROM d),
    topk AS (SELECT prio, x, rn FROM r WHERE rn <= 50),
    xk AS (SELECT prio, CAST(max(CASE WHEN rn = 50 THEN x END) AS BIGINT)
                    AS x_k
           FROM topk GROUP BY prio),
    s AS (SELECT t.prio, xk.x_k,
                 list_sort(list(t.x ORDER BY t.rn)) AS xs
          FROM topk t JOIN xk USING (prio)
          WHERE t.rn < 50 GROUP BY t.prio, xk.x_k),
    h AS (SELECT prio, x_k,
                 list_aggregate(
                   list_transform(xs, v ->
                     ln(CAST(v AS DOUBLE) / CAST(x_k AS DOUBLE))),
                   'sum') AS lsum
          FROM s)
    SELECT prio, CAST(50 AS BIGINT) AS k, x_k AS threshold_cents,
           round(49.0 / lsum, 9) AS hill_alpha
    FROM h ORDER BY prio
    """,
)
def agg_hill_tail_index(spark, sf_dir):
    """Hill tail-index estimator over the top-50 order values per
    priority — the "how heavy is this tail" diagnostic behind
    power-law claims and capacity planning (alpha < 2 means infinite
    variance: plan for the tail, not the mean). The top-k is a
    per-group window; the ln sum runs over a SORTED bounded array on
    both engines (order-deterministic float accumulation — the
    char-entropy convention), rounded 9. alpha = (k-1) / sum ln(x_i /
    x_k)."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    d = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("x"),
    )
    w = Window.partitionBy("prio").orderBy(F.col("x").desc())
    topk = d.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 50)
    xk = topk.groupBy("prio").agg(
        F.max(F.when(F.col("rn") == 50, F.col("x"))).cast("long").alias("x_k")
    )
    s = (
        topk.where(F.col("rn") < 50)
        .join(F.broadcast(xk), "prio")
        .groupBy("prio", "x_k")
        .agg(F.array_sort(F.collect_list("x")).alias("xs"))
    )
    h = s.select(
        "prio", "x_k",
        F.aggregate(
            F.transform(
                "xs",
                lambda v: F.log(
                    v.cast("double") / F.col("x_k").cast("double")
                ),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("lsum"),
    )
    return h.select(
        "prio", F.lit(50).cast("long").alias("k"),
        F.col("x_k").alias("threshold_cents"),
        F.round(F.lit(49.0) / F.col("lsum"), 9).alias("hill_alpha"),
    ).orderBy("prio")


def _ipf_oracle(rounds: int = 3) -> str:
    steps = []
    prev = "w0"
    for r in range(1, rounds + 1):
        steps.append(
            f"""rm{r} AS (SELECT seg, CAST(sum(n * w) AS HUGEINT) AS m
             FROM {prev} GROUP BY seg),
    wr{r} AS (SELECT p.seg, p.reg, p.n,
                 CAST(CAST(p.w AS HUGEINT) * (CAST(t.tr AS HUGEINT)
                      * 1000000 * 1000000 // rm{r}.m) // 1000000 AS BIGINT)
                   AS w
              FROM {prev} p JOIN rm{r} USING (seg)
              JOIN rowt t USING (seg)),
    cm{r} AS (SELECT reg, CAST(sum(n * w) AS HUGEINT) AS m
              FROM wr{r} GROUP BY reg),
    w{r} AS (SELECT p.seg, p.reg, p.n,
                 CAST(CAST(p.w AS HUGEINT) * (CAST(t.tc AS HUGEINT)
                      * 1000000 * 1000000 // cm{r}.m) // 1000000 AS BIGINT)
                   AS w
             FROM wr{r} p JOIN cm{r} USING (reg)
             JOIN colt t USING (reg))"""
        )
        prev = f"w{r}"
    return f"""
    WITH cells AS (
      SELECT c.c_mktsegment AS seg, r.r_name AS reg,
             CAST(count(*) AS BIGINT) AS n
      FROM customer c JOIN nation nt ON c.c_nationkey = nt.n_nationkey
      JOIN region r ON nt.n_regionkey = r.r_regionkey
      GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells),
    rowt AS (SELECT DISTINCT seg, CAST(nn // 5 AS BIGINT) AS tr
             FROM cells CROSS JOIN tot),
    colt AS (SELECT DISTINCT reg, CAST(nn // 5 AS BIGINT) AS tc
             FROM cells CROSS JOIN tot),
    w0 AS (SELECT seg, reg, n, CAST(1000000 AS BIGINT) AS w FROM cells),
    {", ".join(steps)}
    SELECT seg, reg, n, w AS weight_e6
    FROM w{rounds} ORDER BY seg, reg
    """


@query("agg_ipf_raking", oracle=_ipf_oracle(3))
def agg_ipf_raking(spark, sf_dir):
    """Survey raking / iterative proportional fitting: reweight the
    (market segment x region) customer cells so BOTH margins hit
    uniform targets (N/5 each) — the post-stratification calibration
    every survey/panel pipeline runs. Three fixed rounds (row step +
    column step), each weight update quantized to e6 integers with
    floor division — the fixed-depth unrolled-CTE discipline (kcore/
    pagerank precedent), so the oracle replays every factor and every
    weight. All computation after ONE combinable count runs on the
    bounded cell frame."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    cells = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"), F.col("r_name").alias("reg")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    tot = cells.agg(F.sum("n").cast("long").alias("__N"))
    w = cells.crossJoin(F.broadcast(tot)).select(
        "seg", "reg", "n",
        F.lit(1000000).cast("long").alias("w"),
        F.expr("CAST(__N div 5 AS BIGINT)").alias("__t"),
    )
    for _ in range(3):
        rm = w.groupBy("seg").agg(
            F.expr("CAST(sum(CAST(n AS DECIMAL(38,0)) * w) AS DECIMAL(38,0))")
            .alias("__m")
        )
        w = w.join(F.broadcast(rm), "seg").select(
            "seg", "reg", "n", "__t",
            F.expr(
                "CAST(CAST(w AS DECIMAL(38,0)) * (CAST(__t AS DECIMAL(38,0))"
                " * 1000000 * 1000000 div __m) div 1000000 AS BIGINT)"
            ).alias("w"),
        )
        cm = w.groupBy("reg").agg(
            F.expr("CAST(sum(CAST(n AS DECIMAL(38,0)) * w) AS DECIMAL(38,0))")
            .alias("__m")
        )
        w = w.join(F.broadcast(cm), "reg").select(
            "seg", "reg", "n", "__t",
            F.expr(
                "CAST(CAST(w AS DECIMAL(38,0)) * (CAST(__t AS DECIMAL(38,0))"
                " * 1000000 * 1000000 div __m) div 1000000 AS BIGINT)"
            ).alias("w"),
        )
    return w.select(
        "seg", "reg", "n", F.col("w").alias("weight_e6")
    ).orderBy("seg", "reg")


@query(
    "agg_quantile_treatment_effect",
    oracle="""
    WITH d AS (
      SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS arm,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events WHERE event_type IN ('click', 'view')
        AND value IS NOT NULL),
    c AS (SELECT arm, v, CAST(count(*) AS BIGINT) AS c
          FROM d GROUP BY 1, 2),
    cum AS (SELECT arm, v,
                   CAST(sum(c) OVER (PARTITION BY arm ORDER BY v)
                        AS BIGINT) AS cum,
                   CAST(sum(c) OVER (PARTITION BY arm) AS BIGINT) AS n
            FROM c),
    q AS (SELECT arm,
                 min(CASE WHEN cum * 4 >= n THEN v END) AS p25,
                 min(CASE WHEN cum * 2 >= n THEN v END) AS p50,
                 min(CASE WHEN cum * 4 >= 3 * n THEN v END) AS p75,
                 min(CASE WHEN cum * 10 >= 9 * n THEN v END) AS p90
          FROM cum GROUP BY arm)
    SELECT a.p25 - b.p25 AS qte_p25,
           a.p50 - b.p50 AS qte_p50,
           a.p75 - b.p75 AS qte_p75,
           a.p90 - b.p90 AS qte_p90
    FROM q a CROSS JOIN q b WHERE a.arm = 1 AND b.arm = 0
    """,
)
def agg_quantile_treatment_effect(spark, sf_dir):
    """Quantile treatment effects — per-quantile arm differences
    (click vs view value cents at p25/50/75/90): the DISTRIBUTIONAL
    A/B readout that mean-based tests (Welch, CUPED) can't show (a
    treatment can move the tail without moving the mean). Exact type-1
    quantiles off per-arm distinct-value cumsums; effects are integer
    subtractions."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view") & F.col("value").isNotNull()
    )
    d = ev.select(
        (F.col("event_type") == "click").cast("int").alias("arm"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
    )
    c = d.groupBy("arm", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.partitionBy("arm").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("arm")
    cum = c.select(
        "arm", "v",
        F.sum("c").over(w).cast("long").alias("cum"),
        F.sum("c").over(wn).cast("long").alias("n"),
    )
    q = cum.groupBy("arm").agg(
        F.min(F.when(F.col("cum") * 4 >= F.col("n"), F.col("v"))).alias("p25"),
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("v"))).alias("p50"),
        F.min(
            F.when(F.col("cum") * 4 >= 3 * F.col("n"), F.col("v"))
        ).alias("p75"),
        F.min(
            F.when(F.col("cum") * 10 >= 9 * F.col("n"), F.col("v"))
        ).alias("p90"),
    )
    a = q.where(F.col("arm") == 1).select(
        *[F.col(x).alias(f"a_{x}") for x in ("p25", "p50", "p75", "p90")]
    )
    b = q.where(F.col("arm") == 0).select(
        *[F.col(x).alias(f"b_{x}") for x in ("p25", "p50", "p75", "p90")]
    )
    return a.crossJoin(b).select(
        *[
            (F.col(f"a_p{p}") - F.col(f"b_p{p}")).cast("long")
            .alias(f"qte_p{p}")
            for p in (25, 50, 75, 90)
        ]
    )


@query(
    "agg_overdispersion",
    oracle="""
    WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS x
               FROM events GROUP BY 1, 2),
    g AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(x * x) AS BIGINT) AS sxx
          FROM d GROUP BY event_type)
    SELECT event_type, n, sx AS total,
           CAST((CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                * 1000000 // ((n - 1) * CAST(sx AS HUGEINT)) AS BIGINT)
             AS vmr_e6,
           (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
             * 1000000 // ((n - 1) * CAST(sx AS HUGEINT)) > 1500000
             AS overdispersed
    FROM g ORDER BY event_type
    """,
)
def agg_overdispersion(spark, sf_dir):
    """Index of dispersion (variance-to-mean ratio) of daily event
    counts per type — the "is this really Poisson" check that gates
    every count-model assumption (VMR ~ 1e6 = Poisson; >> 1e6 = bursty
    / clumped, use negative binomial). Exact integer rational:
    (n*Sxx - Sx^2) * 1e6 div ((n-1)*Sx) in DECIMAL/HUGEINT; flag at
    1.5x. One combinable daily rollup feeds one per-type pass."""
    ev = t(spark, sf_dir, "events")
    d = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    g = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    vmr = (
        "(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)"
        " * 1000000 div ((n - 1) * CAST(sx AS DECIMAL(38,0)))"
    )
    return g.select(
        "event_type", "n", F.col("sx").alias("total"),
        F.expr(f"CAST({vmr} AS BIGINT)").alias("vmr_e6"),
        F.expr(f"{vmr} > 1500000").alias("overdispersed"),
    ).orderBy("event_type")


@query(
    "agg_trimmed_mean",
    oracle="""
    WITH d AS (SELECT event_type,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
               FROM events WHERE value IS NOT NULL),
    c AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
          FROM d GROUP BY 1, 2),
    cum AS (SELECT event_type, v, c,
                   CAST(sum(c) OVER (PARTITION BY event_type ORDER BY v)
                        AS BIGINT) AS cum,
                   CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT)
                     AS n
            FROM c),
    take AS (SELECT event_type, v,
                    least(cum, n - (n * 5 + 99) // 100)
                    - greatest(cum - c, (n * 5 + 99) // 100) AS k,
                    n
             FROM cum
             WHERE least(cum, n - (n * 5 + 99) // 100)
                   > greatest(cum - c, (n * 5 + 99) // 100))
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           CAST(sum(k) AS BIGINT) AS n_kept,
           CAST(CAST(sum(v * k) AS HUGEINT) * 1000000 // sum(k) AS BIGINT)
             AS trimmed_mean_e6
    FROM take GROUP BY event_type ORDER BY event_type
    """,
)
def agg_trimmed_mean(spark, sf_dir):
    """5%-trimmed mean of event values (cents) per type — the robust
    location estimate between the mean (outlier-dragged) and the
    median (throws away magnitude): drop exactly ceil(5% * n) rows
    from each tail BY RANK off the distinct-value cumsum (each value
    contributes k = overlap of its rank interval with the kept middle
    band — exact integer interval arithmetic, no per-row sort), then
    one exact 1e-6 rational mean over the kept mass."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    d = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
    )
    c = d.groupBy("event_type", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("event_type")
    cum = c.select(
        "event_type", "v", "c",
        F.sum("c").over(w).cast("long").alias("cum"),
        F.sum("c").over(wn).cast("long").alias("n"),
    )
    lo = "(n * 5 + 99) div 100"
    take = cum.select(
        "event_type", "v", "n",
        (
            F.expr(f"least(cum, n - {lo})")
            - F.expr(f"greatest(cum - c, {lo})")
        ).alias("k"),
    ).where(F.col("k") > 0)
    return (
        take.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.sum("k").cast("long").alias("n_kept"),
            F.expr(
                "CAST(CAST(sum(v * k) AS DECIMAL(38,0)) * 1000000"
                " div sum(k) AS BIGINT)"
            ).alias("trimmed_mean_e6"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_lorenz_deciles",
    oracle="""
    WITH e AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1),
    c AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
    cum AS (SELECT x, c,
                   CAST(sum(c) OVER (ORDER BY x) AS BIGINT) AS cumn,
                   CAST(sum(x * c) OVER (ORDER BY x) AS BIGINT) AS cumx,
                   CAST(sum(c) OVER () AS BIGINT) AS n,
                   CAST(sum(x * c) OVER () AS BIGINT) AS tot
            FROM c),
    d AS (SELECT g.decile,
                 min(CASE WHEN cum.cumn * 10 >= g.decile * cum.n
                          THEN cum.cumx END) AS cx,
                 min(CASE WHEN cum.cumn * 10 >= g.decile * cum.n
                          THEN cum.cumn END) AS cn
          FROM (SELECT unnest(range(1, 11)) AS decile) g CROSS JOIN cum
          GROUP BY g.decile),
    t AS (SELECT CAST(max(tot) AS BIGINT) AS tot,
                 CAST(max(n) AS BIGINT) AS n FROM cum)
    SELECT CAST(d.decile AS BIGINT) AS decile,
           CAST(d.cn AS BIGINT) AS n_entities,
           CAST(d.cx AS BIGINT) AS cum_value_cents,
           CAST(CAST(d.cx AS HUGEINT) * 1000000 // t.tot AS BIGINT)
             AS cum_share_ppm
    FROM d CROSS JOIN t ORDER BY decile
    """,
)
def agg_lorenz_deciles(spark, sf_dir):
    """Lorenz curve at population deciles — cumulative revenue share
    of the poorest 10%..100% of customers (the curve whose area gap IS
    the Gini from agg_gini_hhi; deciles are what the dashboard plots):
    the decile's boundary is the smallest ascending-value cumsum
    position covering decile*n/10 entities (type-1, tie-safe at the
    VALUE level — a tie block enters as a whole). All integer
    cents/ppm off the bounded distinct-value cumsum."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    e = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
        ).cast("long").alias("x")
    )
    c = e.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.partitionBy(F.lit(1)).orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = c.select(
        "x", "c",
        F.sum("c").over(w).cast("long").alias("cumn"),
        F.sum(F.col("x") * F.col("c")).over(w).cast("long").alias("cumx"),
        F.sum("c").over(wt).cast("long").alias("n"),
        F.sum(F.col("x") * F.col("c")).over(wt).cast("long").alias("tot"),
    )
    g = o.sparkSession.range(1, 11).select(F.col("id").alias("decile"))
    d = (
        cum.crossJoin(F.broadcast(g))
        .groupBy("decile")
        .agg(
            F.min(
                F.when(
                    F.col("cumn") * 10 >= F.col("decile") * F.col("n"),
                    F.col("cumn"),
                )
            ).cast("long").alias("n_entities"),
            F.min(
                F.when(
                    F.col("cumn") * 10 >= F.col("decile") * F.col("n"),
                    F.col("cumx"),
                )
            ).cast("long").alias("cum_value_cents"),
            F.max("tot").cast("long").alias("__tot"),
        )
    )
    return d.select(
        F.col("decile").cast("long"), "n_entities", "cum_value_cents",
        F.expr(
            "CAST(CAST(cum_value_cents AS DECIMAL(38,0)) * 1000000"
            " div __tot AS BIGINT)"
        ).alias("cum_share_ppm"),
    ).orderBy("decile")


@query(
    "agg_diff_in_diff",
    oracle="""
    WITH d AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS treated,
             CASE WHEN extract(day FROM ts) > 15 THEN 1 ELSE 0 END
               AS post,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    g AS (SELECT treated, post,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(v) AS BIGINT) AS sv
          FROM d GROUP BY 1, 2),
    m AS (SELECT
            max(CASE WHEN treated = 1 AND post = 1 THEN
                CAST(sv AS HUGEINT) * 1000000 // n END) AS m11,
            max(CASE WHEN treated = 1 AND post = 0 THEN
                CAST(sv AS HUGEINT) * 1000000 // n END) AS m10,
            max(CASE WHEN treated = 0 AND post = 1 THEN
                CAST(sv AS HUGEINT) * 1000000 // n END) AS m01,
            max(CASE WHEN treated = 0 AND post = 0 THEN
                CAST(sv AS HUGEINT) * 1000000 // n END) AS m00,
            CAST(sum(n) AS BIGINT) AS n_total
          FROM g)
    SELECT n_total,
           CAST(m11 AS BIGINT) AS mean_treated_post_e6,
           CAST(m10 AS BIGINT) AS mean_treated_pre_e6,
           CAST(m01 AS BIGINT) AS mean_control_post_e6,
           CAST(m00 AS BIGINT) AS mean_control_pre_e6,
           CAST((m11 - m10) - (m01 - m00) AS BIGINT) AS did_e6
    FROM m
    """,
)
def agg_diff_in_diff(spark, sf_dir):
    """Difference-in-differences — the workhorse causal estimate when
    randomization isn't available: (treated post - treated pre) minus
    (control post - control pre), here over event value cents with a
    mid-month policy date and user-parity arms. All four cell means
    are exact 1e-6 integer rationals (one combinable 2x2 rollup), the
    DiD is pure integer subtraction — the parallel-trends readout an
    external engine replays exactly."""
    ev = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    d = ev.select(
        (F.col("user_id") % 2).cast("long").alias("treated"),
        F.when(F.dayofmonth("ts") > 15, 1).otherwise(0).alias("post"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
    )
    g = d.groupBy("treated", "post").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
    )
    cell = (
        "max(CASE WHEN treated = {t} AND post = {p} THEN"
        " CAST(sv AS DECIMAL(38,0)) * 1000000 div n END)"
    )
    m = g.agg(
        F.expr(cell.format(t=1, p=1)).alias("m11"),
        F.expr(cell.format(t=1, p=0)).alias("m10"),
        F.expr(cell.format(t=0, p=1)).alias("m01"),
        F.expr(cell.format(t=0, p=0)).alias("m00"),
        F.sum("n").cast("long").alias("n_total"),
    )
    return m.select(
        "n_total",
        F.col("m11").cast("long").alias("mean_treated_post_e6"),
        F.col("m10").cast("long").alias("mean_treated_pre_e6"),
        F.col("m01").cast("long").alias("mean_control_post_e6"),
        F.col("m00").cast("long").alias("mean_control_pre_e6"),
        F.expr(
            "CAST((m11 - m10) - (m01 - m00) AS BIGINT)"
        ).alias("did_e6"),
    )


@query(
    "agg_srm_check",
    oracle="""
    WITH design AS (
      SELECT 'src' || CAST(range AS VARCHAR) AS v, 1 AS w FROM range(20)),
    counts AS (SELECT source AS v, count(*) AS c FROM documents GROUP BY source),
    obs AS (SELECT d.v, d.w, COALESCE(c.c, 0) AS o
            FROM design d LEFT JOIN counts c ON c.v = d.v),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
    unx AS (SELECT COALESCE(CAST(sum(c) AS BIGINT), 0) AS nu FROM counts
            WHERE v NOT IN (SELECT v FROM design)),
    terms AS (
      SELECT CASE WHEN t.n = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST((1000000::HUGEINT
                             * (o * 20 - t.n * w)
                             * (o * 20 - t.n * w))
                            // (20::HUGEINT * t.n * w) AS BIGINT)
             END AS tv
      FROM obs, tot t)
    SELECT t2.n AS n, CAST(20 AS BIGINT) AS k, u.nu AS n_unexpected,
           CAST(sum(tv) AS BIGINT) AS chi2_ppm,
           CAST(sum(tv) AS BIGINT) >= 30143527 AS significant_05
    FROM terms, tot t2, unx u GROUP BY t2.n, u.nu
    """,
)
def agg_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch gate (functions/stats.py srm_check): the
    20-source corpus tested against a uniform ingest design —
    chi-square goodness-of-fit in exact integer ppm (DECIMAL/HUGEINT
    rational arithmetic), designed-but-empty cells included, df=19
    critical value as a shared literal. One combinable groupBy; the
    oracle replays every per-cell term and the significance verdict."""
    from xorq_spark.functions.stats import srm_check

    docs = t(spark, sf_dir, "documents")
    return srm_check(docs, "source", {f"src{i}": 1 for i in range(20)})


@query(
    "agg_permutation_test",
    oracle="""
    WITH base AS (
      SELECT CAST(n_chars AS BIGINT) AS v, (lang = 'en') AS g,
             ('0x' || substr(md5('rt|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 2147483647 AS v1,
             ('0x' || substr(md5('rt|' || CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT
               % 2147483647 AS v2r
      FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
    h AS (SELECT v, g, v1, CASE WHEN v2r = 0 THEN 1 ELSE v2r END AS v2 FROM base),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s,
                   CAST(sum(CASE WHEN g THEN v END) AS BIGINT) AS sa,
                   CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS na
            FROM h),
    per AS (
      SELECT b.range AS b,
             CAST(sum(CASE WHEN (v1 + v2 * b.range) % 2147483647 % 2 = 1
                           THEN v END) AS BIGINT) AS sb,
             CAST(sum(CASE WHEN (v1 + v2 * b.range) % 2147483647 % 2 = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM h, range(64) b GROUP BY b.range),
    stats AS (
      SELECT CASE WHEN nb > 0 AND nb < t.n THEN
               abs(CAST(COALESCE(sb, 0) AS DOUBLE) / CAST(nb AS DOUBLE)
                   - CAST(t.s - COALESCE(sb, 0) AS DOUBLE)
                     / CAST(t.n - nb AS DOUBLE))
             END AS st,
             round(abs(CAST(t.sa AS DOUBLE) / CAST(t.na AS DOUBLE)
                   - CAST(t.s - t.sa AS DOUBLE) / CAST(t.n - t.na AS DOUBLE)),
                   9) AS obs,
             t.n AS n, t.na AS na
      FROM per, tot t)
    SELECT n, CAST(na AS BIGINT) AS n_a, CAST(n - na AS BIGINT) AS n_b,
           obs AS obs_diff,
           CAST(64 AS BIGINT) AS b_total,
           COALESCE(CAST(sum(CASE WHEN st >= obs THEN 1 ELSE 0 END) AS BIGINT),
                    0) AS b_ge,
           round(COALESCE(CAST(sum(CASE WHEN st >= obs THEN 1 ELSE 0 END)
                               AS BIGINT), 0)::DOUBLE / 64.0, 9) AS p_value
    FROM stats GROUP BY n, na, obs
    """,
)
def agg_permutation_test(spark, sf_dir):
    """Randomization test for mean document length across languages
    (functions/stats.py randomization_test): is mean n_chars of 'en'
    docs different from the rest? 64 deterministic Carter-Wegman
    relabelings, |mean diff| per relabeling from exact integer sums in
    ONE wide codegen'd aggregate (the agg_bootstrap_ci design — no
    data-sized shuffle, no per-b scan); the oracle replays the identical
    integer coin stream and every double tree, so the exceedance count
    and p-value match bit-for-bit."""
    from xorq_spark.functions.stats import randomization_test

    docs = t(spark, sf_dir, "documents").where(
        F.col("n_chars").isNotNull() & F.col("lang").isNotNull()
    )
    return randomization_test(
        docs, "n_chars", F.col("lang") == "en", b=64
    )


@query(
    "agg_msprt_sequential",
    oracle="""
    WITH d AS (
      SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS day_us,
             (user_id % 2 = 0) AS g,
             CAST(floor(CAST(value AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS vq
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL),
    daily AS (
      SELECT day_us,
             sum(CASE WHEN g THEN vq ELSE 0 END) AS sa_d,
             sum(CASE WHEN g THEN 1 ELSE 0 END) AS na_d,
             sum(CASE WHEN NOT g THEN vq ELSE 0 END) AS sb_d,
             sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS nb_d
      FROM d GROUP BY day_us),
    run AS (
      SELECT day_us,
             CAST(sum(na_d) OVER w AS BIGINT) AS na,
             CAST(sum(sa_d) OVER w AS BIGINT) AS sa,
             CAST(sum(nb_d) OVER w AS BIGINT) AS nb,
             CAST(sum(sb_d) OVER w AS BIGINT) AS sb
      FROM daily WINDOW w AS (ORDER BY day_us
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    sc AS (
      SELECT day_us, na, nb,
             CASE WHEN na > 0 AND nb > 0 THEN
               CAST(round((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                 - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) * 1e9, 0)
                 AS BIGINT) END AS delta_e9,
             CASE WHEN na > 0 AND nb > 0 THEN
               CAST(round((
                 0.5 * ln(4e8 / (4e8
                   + (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                      / CAST(na + nb AS DOUBLE)) * 4e8))
                 + ((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                     / CAST(na + nb AS DOUBLE))
                    * (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                       / CAST(na + nb AS DOUBLE))
                    * 4e8
                    * (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                       - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
                    * (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                       - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)))
                   / (2.0 * 4e8 * (4e8
                      + (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                         / CAST(na + nb AS DOUBLE)) * 4e8))
               ) * 1e9, 0) AS BIGINT) END AS ln_lambda_e9
      FROM run),
    mx AS (
      SELECT day_us, na, nb, delta_e9, ln_lambda_e9,
             max(ln_lambda_e9) OVER (ORDER BY day_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS maxln
      FROM sc)
    SELECT day_us, na, nb, delta_e9, ln_lambda_e9,
           CAST(CASE WHEN maxln IS NULL OR maxln <= 0 THEN 1000000000
                ELSE CAST(round(exp(-(CAST(maxln AS DOUBLE) / 1e9)) * 1e9, 0)
                     AS BIGINT) END AS BIGINT) AS p_e9,
           (CASE WHEN maxln IS NULL OR maxln <= 0 THEN 1000000000
                 ELSE CAST(round(exp(-(CAST(maxln AS DOUBLE) / 1e9)) * 1e9, 0)
                      AS BIGINT) END) <= 50000000 AS significant
    FROM mx ORDER BY day_us
    """,
)
def agg_msprt_sequential(spark, sf_dir):
    """Always-valid sequential A/B test (functions/stats.py
    msprt_sequential, Johari et al.) — the peeking-safe monitor every
    experimentation platform runs: per-day mixture-SPRT likelihood
    ratio over a deterministic user-parity split of event values, with
    p_d = min(1, 1/max Lambda) valid at every look. Running arm totals
    come from the two-level prefix operator (no single-partition window
    on the stream); the oracle replays the quantization, the effective-
    sample-size double tree (exp/ln only) and the integer running max."""
    import pyspark.sql.functions as F2

    from xorq_spark.functions.stats import msprt_sequential

    ev = t(spark, sf_dir, "events").where(F2.col("user_id").isNotNull())
    return msprt_sequential(
        ev,
        ts_col="ts",
        value_col="value",
        treat_col=F2.col("user_id") % 2 == 0,
        sigma2=4e8,
        tau2=4e8,
    ).orderBy("day_us")
