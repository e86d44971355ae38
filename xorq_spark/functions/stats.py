"""Experiment statistics in exact integer arithmetic.

The A/B-test readout layer over event logs: contingency aggregation is
one combinable groupBy (counts travel, never rows), and the test
statistic is integer-rational — DECIMAL(38,0) intermediates with a
final integer division, the repo's BM25 discipline — so two engines
agree to the last ppm digit and a rerun on reshuffled data is
byte-identical. No chi-square p-value table is shipped: the statistic
is compared against the caller's critical value (3.84 at alpha=0.05,
df=1), which keeps everything engine-replayable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def chi2_abtest(
    df: DataFrame,
    group_col,
    success_col,
) -> DataFrame:
    """2x2 chi-square statistic for a two-variant experiment, in parts
    per million: chi2_ppm = 1e6 * N * (ad-bc)^2 div (ra*rb*ca*cb),
    where [a,b;c,d] is the success/failure contingency of the two
    groups (group_col boolean-like: TRUE = variant A; success_col
    boolean-like). Returns ONE row: a, b, c, d, n, chi2_ppm,
    significant_05 (chi2 >= 3.841459 at df=1).

    Exactness bound: the DECIMAL(38,0) numerator 1e6*N*(ad-bc)^2 needs
    N <= ~3e6 rows; beyond that, pre-aggregate (a chi-square test on
    100 TB is a test on its contingency COUNTS — aggregate first, test
    the four numbers). Degenerate margins (an empty row/column) yield
    chi2_ppm = 0 rather than a division error."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    s = F.col(success_col) if isinstance(success_col, str) else success_col
    ct = df.where(g.isNotNull() & s.isNotNull()).agg(
        F.sum((g.cast("boolean") & s.cast("boolean")).cast("long")).alias("a"),
        F.sum((g.cast("boolean") & ~s.cast("boolean")).cast("long")).alias("b"),
        F.sum((~g.cast("boolean") & s.cast("boolean")).cast("long")).alias("c"),
        F.sum((~g.cast("boolean") & ~s.cast("boolean")).cast("long")).alias("d"),
    )
    return ct.select(
        F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("a"),
        F.coalesce(F.col("b"), F.lit(0)).cast("long").alias("b"),
        F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
        F.coalesce(F.col("d"), F.lit(0)).cast("long").alias("d"),
    ).select(
        "a",
        "b",
        "c",
        "d",
        (F.col("a") + F.col("b") + F.col("c") + F.col("d"))
        .cast("long")
        .alias("n"),
        F.expr(
            "CASE WHEN (a+b) = 0 OR (c+d) = 0 OR (a+c) = 0 OR (b+d) = 0 "
            "THEN CAST(0 AS BIGINT) ELSE CAST("
            "  CAST(1000000 AS DECIMAL(38,0)) * CAST(a+b+c+d AS DECIMAL(38,0))"
            "  * CAST(a*d - b*c AS DECIMAL(38,0))"
            "  * CAST(a*d - b*c AS DECIMAL(38,0))"
            "  div (CAST(a+b AS DECIMAL(38,0)) * CAST(c+d AS DECIMAL(38,0))"
            "       * CAST(a+c AS DECIMAL(38,0)) * CAST(b+d AS DECIMAL(38,0)))"
            " AS BIGINT) END"
        ).alias("chi2_ppm"),
    ).withColumn(
        "significant_05", F.col("chi2_ppm") >= F.lit(3841459)
    )


def quantile_calibrate(
    df: DataFrame,
    score_col: str,
    group_col: str,
    order_cols: "Sequence[str]" = (),
    k: int = 100,
) -> DataFrame:
    """Cross-group score calibration by quantile mapping: replace each
    row's score with the GLOBAL score at the same within-group
    percentile — the normalizer a multi-source corpus needs before one
    quality threshold can apply everywhere (a "0.8" from a lenient
    scorer and a "0.8" from a strict one mean different things; their
    percentiles do not).

    Exact integer construction, no interpolation:
      - within-group percentile on a k-point grid:
        g = ceil(r*k/n_g), r = row_number ordered by (score, order_cols)
      - the global grid value at g is the type-1 quantile at rank
        t_g = ceil(g*N/k), selected FROM the data values.

    Scale design (the winsorize/quantile_bins pattern, extended): the
    global distribution is reduced to its distinct-value cumulative
    counts (bounded by the score domain, not the corpus); each distinct
    value emits exactly the grid points whose target rank falls in its
    cumulative range (a bounded sequence-explode — the k-row grid table
    is built WITHOUT a corpus sort and WITHOUT a k x distinct join);
    the grid broadcasts back as an equi-join on g. Per-row ranks are
    one window shuffle keyed on the group. Nothing corpus-sized is ever
    globally sorted or collected.

    Returns the input columns + pct_gridpoint (1..k) + calibrated.
    """
    from pyspark.sql import Window

    order = [score_col, *order_cols]
    wg = Window.partitionBy(group_col).orderBy(*[F.col(c) for c in order])
    wgc = Window.partitionBy(group_col)
    n_tot = df.agg(F.count(F.lit(1)).cast("long").alias("__N"))

    # distinct-value cumulative table over the global scores — built
    # with the two-level prefix operator (operators/prefix.py), so a
    # near-continuous score domain (distinct ~ corpus) never funnels
    # through a single-partition window
    from xorq_spark.operators.prefix import running_sum

    dv = running_sum(
        df.groupBy(score_col).agg(
            F.count(F.lit(1)).cast("long").alias("__c")
        ),
        score_col, "__c", "__cum",
    ).withColumn("__prev", F.col("__cum") - F.col("__c"))
    # every grid point g whose type-1 target rank ceil(g*N/k) lands in
    # (__prev, __cum] belongs to this value; candidates bounded by the
    # range, membership filtered exactly
    grid = (
        dv.crossJoin(F.broadcast(n_tot))
        .select(
            F.col(score_col).alias("__gval"),
            F.explode(
                F.sequence(
                    F.expr(f"CAST(greatest(__prev * {k} div __N, 1) AS INT)"),
                    F.expr(
                        f"CAST(least((__cum * {k} + __N - 1) div __N + 1, {k}) AS INT)"
                    ),
                )
            ).alias("g"),
            "__prev",
            "__cum",
            "__N",
        )
        .where(
            (F.expr(f"(g * __N + {k} - 1) div {k}") > F.col("__prev"))
            & (F.expr(f"(g * __N + {k} - 1) div {k}") <= F.col("__cum"))
        )
        .select("g", "__gval")
    )
    ranked = (
        df.withColumn("__r", F.row_number().over(wg))
        .withColumn("__ng", F.count(F.lit(1)).over(wgc))
        .withColumn(
            "g",
            F.expr(f"CAST((__r * {k} + __ng - 1) div __ng AS INT)"),
        )
    )
    out = ranked.join(F.broadcast(grid), "g")
    return out.select(
        *[F.col(c) for c in df.columns],
        F.col("g").cast("long").alias("pct_gridpoint"),
        F.col("__gval").alias("calibrated"),
    )


def ks_drift(
    old: DataFrame,
    new: DataFrame,
    value_col: str = "value",
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between two
    snapshots of a numeric column — the unbinned companion of
    `histogram_drift` (TVD over fixed bins misses shape changes inside
    a bin; the KS sup-norm does not, and needs no binning choice).

    D = max over values of |ECDF_old - ECDF_new|, computed EXACTLY as
    integer rationals: with cumulative counts cum1/cum2 at each
    distinct value, the unnormalized statistic is
    max |cum1*N2 - cum2*N1|, and D_e9 = that * 1e9 div (N1*N2) in
    DECIMAL(38,0). The reported location is the smallest value
    attaining the max (deterministic across engines).

    Scale design: both snapshots reduce to ONE distinct-value count
    table (bounded by the value domain, not the corpus — the
    winsorize/calibrate pattern); the cumulative window runs over that
    bounded table; totals broadcast back. Nothing corpus-sized is
    sorted or collected.

    Returns one row: (n_old, n_new, ks_num, ks_e9, ks_at_value).
    """
    from pyspark.sql import Window

    u = old.select(
        F.col(value_col).alias("v"), F.lit(0).alias("__s")
    ).unionByName(
        new.select(F.col(value_col).alias("v"), F.lit(1).alias("__s"))
    ).where(F.col("v").isNotNull())
    dv = u.groupBy("v").agg(
        F.sum(F.when(F.col("__s") == 0, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("__s") == 1, 1).otherwise(0)).alias("c2"),
    )
    from xorq_spark.operators.prefix import running_sum

    c = running_sum(
        dv, "v", cols={"cum1": "c1", "cum2": "c2"}
    ).select("v", "cum1", "cum2")
    n = dv.agg(
        F.sum("c1").cast("long").alias("N1"),
        F.sum("c2").cast("long").alias("N2"),
    )
    d = c.crossJoin(F.broadcast(n)).select(
        "v",
        "N1",
        "N2",
        F.abs(
            F.col("cum1") * F.col("N2") - F.col("cum2") * F.col("N1")
        ).alias("diff"),
    )
    mx = d.groupBy("N1", "N2").agg(F.max("diff").alias("ks_num"))
    at = (
        d.join(F.broadcast(mx), ["N1", "N2"])
        .where(F.col("diff") == F.col("ks_num"))
        .groupBy("N1", "N2", "ks_num")
        .agg(F.min("v").alias("ks_at_value"))
    )
    return at.select(
        F.col("N1").alias("n_old"),
        F.col("N2").alias("n_new"),
        F.col("ks_num").cast("long").alias("ks_num"),
        F.expr(
            "CAST(CAST(ks_num AS DECIMAL(38,0)) * 1000000000"
            " div (CAST(N1 AS DECIMAL(38,0)) * N2) AS BIGINT)"
        ).alias("ks_e9"),
        F.col("ks_at_value").cast("double").alias("ks_at_value"),
    )


def market_basket_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
) -> DataFrame:
    """Pairwise association mining (the support/confidence/lift core of
    market-basket analysis): for every item pair co-occurring in
    `min_pair_count`+ baskets, exact integer-rational support,
    both-direction confidence, and lift.

    Scale design: baskets collapse to distinct (basket, item) rows
    once; pairs are generated ARRAY-SIDE per basket (sorted item list
    + a triangular transform — no basket self-join, so a hot basket
    never re-shuffles) and explode into a combinable pair-keyed
    groupBy; item counts are vocabulary-bounded and broadcast into
    both lookups. Baskets of k items emit C(k,2) pairs — the inherent
    output size; cap upstream if baskets are unbounded.

    All ratios are exact ppm integers (c*1e6 div n), lift additionally
    in DECIMAL(38,0) so c12*N*1e6 never overflows.

    Returns (item_a, item_b, n_pair, n_a, n_b, support_ppm,
    conf_a_to_b_ppm, conf_b_to_a_ppm, lift_e6), item_a < item_b.
    """
    b = (
        df.where(F.col(basket_col).isNotNull() & F.col(item_col).isNotNull())
        .select(
            F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
        )
        .distinct()
    )
    n_b = b.select("__b").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("__N")
    )
    items = b.groupBy("__i").agg(F.count(F.lit(1)).cast("long").alias("__c"))
    arr = b.groupBy("__b").agg(F.sort_array(F.collect_set("__i")).alias("__a"))
    pairs_expr = F.expr(
        "flatten(transform(__a, (x, i) -> "
        "  transform(slice(__a, i + 2, size(__a)), y -> struct(x AS a, y AS b))))"
    )
    pc = (
        arr.select(F.explode(pairs_expr).alias("__p"))
        .groupBy(F.col("__p.a").alias("item_a"), F.col("__p.b").alias("item_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .where(F.col("n_pair") >= int(min_pair_count))
    )
    ca = items.select(F.col("__i").alias("item_a"), F.col("__c").alias("n_a"))
    cb = items.select(F.col("__i").alias("item_b"), F.col("__c").alias("n_b"))
    out = (
        pc.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .crossJoin(F.broadcast(n_b))
    )
    return out.select(
        "item_a",
        "item_b",
        "n_pair",
        "n_a",
        "n_b",
        F.expr("n_pair * 1000000 div __N").cast("long").alias("support_ppm"),
        F.expr("n_pair * 1000000 div n_a").cast("long").alias(
            "conf_a_to_b_ppm"
        ),
        F.expr("n_pair * 1000000 div n_b").cast("long").alias(
            "conf_b_to_a_ppm"
        ),
        F.expr(
            "CAST(CAST(n_pair AS DECIMAL(38,0)) * __N * 1000000"
            " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
        ).alias("lift_e6"),
    )


def cuped_adjust(
    df: DataFrame,
    y_col: str,
    x_col: str,
    arm_col: str,
) -> DataFrame:
    """CUPED variance reduction (Deng et al. WSDM'13) — the experiment
    readout that subtracts the pre-experiment covariate's explained
    variance: adjusted arm mean = mean(y) - theta * (mean(x) -
    global mean(x)), theta = cov(x, y) / var(x) over all arms. The
    standard way an A/B platform tightens confidence intervals without
    more traffic.

    Certification contract: the five sufficient statistics (n, sum y,
    sum x, sum xy, sum x^2) are EXACT — accumulated in DECIMAL(38,0),
    emitted as BIGINT — and the oracle recomputes them from scratch;
    theta and the adjusted means are IEEE doubles derived from those
    integers by an identical expression tree on both engines, rounded
    to 9 digits (deterministic: same inputs, same operation order).
    Inputs must be integer-valued (pre-scale money to cents).

    Scale design: one map-side-combinable global aggregate + one per-
    arm aggregate over the same scan; the join is arms-sized. Nothing
    else moves.

    Returns (arm_col, n_rows, sum_y, sum_x, mean_y, adj_mean_y,
    theta) per arm.
    """
    d38 = "decimal(38,0)"
    y = F.col(y_col).cast(d38)
    x = F.col(x_col).cast(d38)
    g = df.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(y).cast(d38).alias("__sy"),
        F.sum(x).cast(d38).alias("__sx"),
        F.sum(y * x).cast(d38).alias("__sxy"),
        F.sum(x * x).cast(d38).alias("__sxx"),
    )
    a = df.groupBy(arm_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(y).cast(d38).alias("__say"),
        F.sum(x).cast(d38).alias("__sax"),
    )
    j = a.crossJoin(F.broadcast(g))
    num = (
        F.col("__n").cast("double") * F.col("__sxy").cast("double")
        - F.col("__sx").cast("double") * F.col("__sy").cast("double")
    )
    den = (
        F.col("__n").cast("double") * F.col("__sxx").cast("double")
        - F.col("__sx").cast("double") * F.col("__sx").cast("double")
    )
    theta = num / den
    mean_y = F.col("__say").cast("double") / F.col("n_rows").cast("double")
    mean_x = F.col("__sax").cast("double") / F.col("n_rows").cast("double")
    gmean_x = F.col("__sx").cast("double") / F.col("__n").cast("double")
    return j.select(
        F.col(arm_col),
        "n_rows",
        F.col("__say").cast("long").alias("sum_y"),
        F.col("__sax").cast("long").alias("sum_x"),
        F.round(mean_y, 9).alias("mean_y"),
        F.round(mean_y - theta * (mean_x - gmean_x), 9).alias(
            "adj_mean_y"
        ),
        F.round(theta, 9).alias("theta"),
    )


# Poisson(1) CDF at 1e6 scale: P(X <= k) for k = 0..8. A hash-uniform
# u in [0, 1e6) maps to weight w = #{thresholds <= u} — the standard
# inverse-CDF table, truncated at 8 (P(X > 8) < 1e-6, and the
# truncation is part of the deterministic contract both engines replay)
_POISSON1_CDF_E6 = (
    367879, 735759, 919699, 981012, 996340, 999406, 999917, 999990,
)


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    key_col: str,
    n_resamples: int = 40,
    lo_pct: int = 5,
    hi_pct: int = 95,
    seed: str = "bs",
) -> DataFrame:
    """Deterministic distributed bootstrap CI for a mean — the Poisson
    bootstrap (Chamandy et al., Google 2012): instead of drawing N rows
    with replacement (impossible to coordinate across executors), each
    row enters resample b with weight ~ Poisson(1), which converges to
    the multinomial bootstrap and needs NO shared state. The weights
    are a PURE FUNCTION of (seed, b, row key): ONE md5 digest per row
    seeds a Carter-Wegman pairwise-independent expansion
    u_b = (v1 + v2*b) mod (2^31-1) mod 1e6 over the two 32-bit digest
    halves, driven through the fixed Poisson(1) inverse-CDF table —
    replayable by an external SQL engine and stable across
    reruns/engines: a certifiable bootstrap. (Pairwise independence
    across resamples is what the CW family guarantees; each resample's
    weight stream is individually iid-uniform.)

    Resample means and the CI are exact integer rationals: mean_b =
    sum(w*x)*1e6 div sum(w); the CI bounds are exact type-1 quantiles
    of the B resample means (rank ceil(p*B), ties to smaller b).
    `value_col` must be integer-valued (pre-scale money to cents).

    Scale design: there is NO data-sized shuffle at all. One lazy
    chain: Catalyst computes each row's md5 digest halves (v1, v2);
    an Arrow stage folds every partition's rows into one partial row
    of 2B+2 integer sums; those partial rows (one per input
    partition, so the exchange is sized by the partition count, not
    the data) move to ONE Python task that sums them exactly, ranks
    the resample means and emits the CI row. Building the frame
    launches no job; its action runs at most 3 (the `widen`
    rebalance, the partials stage, the fold task) where the former
    checkpoint-pinned partials + SQL readout (posexplode/groupBy,
    window rank, broadcast cross joins) ran 12. (Earlier designs
    measured at sf0.1: B-fold explode+groupBy 16.8s; per-resample
    conv() hex parses 23.7s; DECIMAL modmul 33s; an all-SQL
    2B+2-buffer aggregate ~2s — same statistic class, the uniform
    stream is the committed contract the oracle replays.)

    Returns one row: (n, point_mean_e6, ci_lo_e6, ci_hi_e6,
    n_resamples) — or zero rows when no resample has weight (an empty
    input) or a percentile rank falls outside 1..n_resamples
    (lo_pct = 0).
    """
    B = int(n_resamples)
    P31 = (1 << 31) - 1
    # Rebalance the narrow (x, key) rows to cluster parallelism before
    # the digest+inverse-CDF stage: the per-row work (one md5 plus 2B
    # threshold folds) is heavy enough that a single-split scan
    # serializes it (measured 5.5 CPU-s on 3 input splits at sf0.1;
    # interleaved A/B 3.01 -> 2.09 s). Weights are a pure function of
    # (seed, b, key) and the folds are commutative sums, so row
    # placement cannot change any value. Scale-conditional (round 10):
    # at real data sizes the scan already produces cluster-width splits
    # and the rebalance is a plan no-op — an unconditional repartition
    # would shuffle every row at 100 TB for nothing.
    from xorq_spark.operators.partitioning import widen as _widen

    d = df.select(
        F.col(value_col).cast("long").alias("__x"),
        F.col(key_col).cast("string").alias("__k"),
    ).where(F.col("__x").isNotNull() & F.col("__k").isNotNull())
    d = _widen(d)
    part = _bootstrap_partials_arrow(d, B, P31, seed)
    return part.repartition(1).mapInPandas(
        _bootstrap_fold(B, int(lo_pct), int(hi_pct)),
        "n long, point_mean_e6 long, ci_lo_e6 long, ci_hi_e6 long,"
        " n_resamples long",
    )


def _bootstrap_partials_arrow(d, B, P31, seed):
    """Partial sums: the digest in Catalyst, the folds in one Arrow
    stage. The JVM projects __x and the two md5 digest halves
    (Spark's md5 hashes the key's UTF-8 bytes; v2 = 0 is remapped to
    stride 1 — both part of the committed contract the oracle
    replays), so each task receives three int64 columns and, with no
    per-row Python loop, computes Carter-Wegman u_b = (v1 + v2*b) mod
    P31 mod 1e6 and weight = #{thresholds <= u_b} in numpy — all
    int64, no rounding anywhere — and emits ONE partial row
    (n, sx, swx[B], sw[B]). The former all-SQL 2B+2-buffer aggregate
    (the reference in tests/test_incremental_pit_pmi.py) computes the
    same integers, but its 82 expression trees cost the driver ~1.5 s
    of analysis/optimization per invocation; this plan is a few
    dozen nodes. Exactness is pinned by test_bootstrap_arrow_matches_sql
    and the oracle hash."""
    thresholds = _POISSON1_CDF_E6
    dig = d.select(
        "__x", F.md5(F.concat(F.lit(f"{seed}|"), "__k")).alias("__dig")
    )
    v = dig.select(
        "__x",
        (F.conv(F.substring("__dig", 1, 8), 16, 10).cast("long") % P31)
        .alias("__v1"),
        F.greatest(
            F.conv(F.substring("__dig", 17, 8), 16, 10).cast("long") % P31,
            F.lit(1),
        ).alias("__v2"),
    )

    def partials(it):
        import numpy as np
        import pandas as pd

        TH = np.asarray(thresholds, dtype=np.int64)
        n = 0
        sx = 0
        swx = np.zeros(B, dtype=np.int64)
        sw = np.zeros(B, dtype=np.int64)
        bs = np.arange(1, B + 1, dtype=np.int64)[:, None]
        for pdf in it:
            if len(pdf) == 0:
                continue
            xs = pdf["__x"].to_numpy(dtype=np.int64)
            v1 = pdf["__v1"].to_numpy(dtype=np.int64)
            v2 = pdf["__v2"].to_numpy(dtype=np.int64)
            u = (v1[None, :] + v2[None, :] * bs) % P31 % 1000000  # (B, m)
            # #{thresholds <= u}: the insertion point right of u
            w = np.searchsorted(TH, u, side="right").astype(np.int64)
            swx += (w * xs[None, :]).sum(axis=1)
            sw += w.sum(axis=1)
            n += len(pdf)
            sx += int(xs.sum())
        yield pd.DataFrame(
            {
                "n": [n],
                "sx": [sx],
                "swx": [swx.tolist()],
                "sw": [sw.tolist()],
            }
        )

    return v.mapInPandas(
        partials, "n long, sx long, swx array<long>, sw array<long>"
    )


def _bootstrap_fold(B, lo_pct, hi_pct):
    """The mapInPandas function that reads the CI out of the partial
    rows in exact Python ints, with Spark's semantics: DECIMAL `div`
    truncates toward zero (not Python's floor `//`) and a pick rank is
    (p*nB + 99) div 100 over the sorted means of the nB resamples with
    weight (ties to smaller b cannot change a picked value). Emits zero
    rows when no resample has weight or a rank falls outside 1..nB —
    what a join against an empty pick yields."""

    def fold(it):
        import pandas as pd

        def div(a, b):
            q = abs(a) // abs(b)
            return q if (a < 0) == (b < 0) else -q

        n = sx = 0
        swx = [0] * B
        sw = [0] * B
        for pdf in it:
            for p in pdf.itertuples(index=False):
                n += int(p.n)
                sx += int(p.sx)
                for b in range(B):
                    swx[b] += int(p.swx[b])
                    sw[b] += int(p.sw[b])
        means = sorted(
            div(swx[b] * 1000000, sw[b]) for b in range(B) if sw[b] > 0
        )
        nB = len(means)
        lo_r = div(lo_pct * nB + 99, 100)
        hi_r = div(hi_pct * nB + 99, 100)
        if not (1 <= lo_r <= nB and 1 <= hi_r <= nB):
            return
        yield pd.DataFrame(
            {
                "n": [n],
                "point_mean_e6": [div(sx * 1000000, n)],
                "ci_lo_e6": [means[lo_r - 1]],
                "ci_hi_e6": [means[hi_r - 1]],
                "n_resamples": [nB],
            }
        )

    return fold


def mann_whitney_u(
    old: DataFrame,
    new: DataFrame,
    value_col: str = "value",
) -> DataFrame:
    """Exact Mann-Whitney U (Wilcoxon rank-sum) between two samples —
    the nonparametric A/B test that needs no normality assumption and,
    being RANK-based, is exactly computable: with tied ranks expressed
    as doubled integers (r2 = 2*prev_cum + c + 1 per distinct value,
    straight off the distinct-value cumulative table — no per-row
    window, no float average rank), the doubled statistic

        2*U_A = sum over values of nA(v) * r2(v)  -  nA*(nA+1)

    is integer and engine-exact, as are the tie-correction sums. The
    normal-approximation z is an IEEE double derived from those
    integers by an identical expression tree (rounded 9) — the CUPED
    convention.

    Scale design: both samples reduce to ONE distinct-value count
    table (bounded by the value domain); the rank window runs over
    that bounded table; one single-row aggregate finishes.

    Returns one row: (n_a, n_b, u2_a, u2_b, tie_cube_sum, z).
    """
    from pyspark.sql import Window

    u = old.select(
        F.col(value_col).alias("v"), F.lit(1).alias("__a")
    ).unionByName(
        new.select(F.col(value_col).alias("v"), F.lit(0).alias("__a"))
    ).where(F.col("v").isNotNull())
    dv = u.groupBy("v").agg(
        F.sum("__a").cast("long").alias("ca"),
        F.sum(1 - F.col("__a")).cast("long").alias("cb"),
    )
    from xorq_spark.operators.prefix import running_sum

    c = running_sum(
        dv.withColumn("t", F.col("ca") + F.col("cb")), "v", "t", "__cumt"
    ).select(
        "ca", "cb", "t", (F.col("__cumt") - F.col("t")).alias("prev")
    )
    agg = c.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(
            F.col("ca") * (2 * F.col("prev") + F.col("t") + 1)
        ).cast("long").alias("__ra2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie_cube_sum"),
    )
    u2a = F.col("__ra2") - F.col("n_a") * (F.col("n_a") + 1)
    u2b = (
        2 * F.col("n_a") * F.col("n_b") - u2a
    )
    n = (F.col("n_a") + F.col("n_b")).cast("double")
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ties = F.col("tie_cube_sum").cast("double")
    var = (
        na * nb / 12.0
        * ((n + 1.0) - ties / (n * (n - 1.0)))
    )
    z = (u2a.cast("double") - na * nb) / (2.0 * F.sqrt(var))
    return agg.select(
        "n_a",
        "n_b",
        u2a.cast("long").alias("u2_a"),
        u2b.cast("long").alias("u2_b"),
        "tie_cube_sum",
        F.round(z, 9).alias("z"),
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Exact Spearman rank correlation — Pearson over tied average
    ranks, with the ranks expressed as doubled integers (r2 =
    2*prev_cum + c + 1 per distinct value, the mann_whitney_u
    machinery applied per column): every sufficient statistic
    (n, sum r2x, sum r2y, sum r2x*r2y, sum r2x^2, sum r2y^2) is an
    exact DECIMAL(38,0) integer both engines reproduce, and rho is the
    identical IEEE expression tree over them, rounded 9. The robust
    monotone-association readout (quality score vs. length, score vs.
    score) that Pearson's sensitivity to outliers breaks.

    Scale design: each column reduces to its bounded distinct-value
    cumulative table, broadcast back as an equi-join; one single-row
    aggregate finishes. No corpus-wide sort anywhere.

    Returns one row: (n, rho).
    """
    from pyspark.sql import Window

    d = df.select(
        F.col(x_col).alias("__x"), F.col(y_col).alias("__y")
    ).where(F.col("__x").isNotNull() & F.col("__y").isNotNull())

    from xorq_spark.operators.prefix import running_sum

    def rank_table(col):
        return (
            running_sum(
                d.groupBy(col).agg(F.count(F.lit(1)).alias("__c")),
                col, "__c", "__cum",
            )
            .select(
                col,
                (
                    2 * (F.col("__cum") - F.col("__c")) + F.col("__c") + 1
                ).cast("long").alias(f"__r{col}"),
            )
        )
    rx = rank_table("__x")
    ry = rank_table("__y")
    j = d.join(F.broadcast(rx), "__x").join(F.broadcast(ry), "__y")
    g = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("CAST(__r__x AS DECIMAL(38,0))")).alias("__sx"),
        F.sum(F.expr("CAST(__r__y AS DECIMAL(38,0))")).alias("__sy"),
        F.sum(
            F.expr("CAST(__r__x AS DECIMAL(38,0)) * __r__y")
        ).alias("__sxy"),
        F.sum(
            F.expr("CAST(__r__x AS DECIMAL(38,0)) * __r__x")
        ).alias("__sxx"),
        F.sum(
            F.expr("CAST(__r__y AS DECIMAL(38,0)) * __r__y")
        ).alias("__syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx, syy = F.col("__sxx").cast("double"), F.col("__syy").cast("double")
    rho = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return g.select("n", F.round(rho, 9).alias("rho"))


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_cols=(),
    qs: dict = None,
) -> DataFrame:
    """Exact weighted quantiles — the token-weighted percentile (e.g.
    "the document length below which half the CORPUS TOKENS lie", not
    half the documents). ``qs`` maps output column name -> rational
    (num, den); each quantile is exact weighted type-1: the smallest
    value whose cumulative weight reaches ceil(q * W) — selected FROM
    the data with pure integer rank arithmetic (winsorize convention),
    so every output is engine-exact.

    Scale: one (group, value) map-side-combinable weight sum, one
    window cumsum over the DISTINCT-value table (bounded by value
    cardinality, not rows), one bounded per-group output row. The
    corpus itself never sorts or shuffles.
    """
    from pyspark.sql import Window

    qs = qs or {"p50": (1, 2)}
    gl = list(group_cols)
    v = F.col(value_col)
    cnt = (
        df.where(v.isNotNull() & F.col(weight_col).isNotNull())
        .groupBy(*gl, value_col)
        .agg(F.sum(F.col(weight_col).cast("long")).alias("__w"))
    )
    w = (
        Window.partitionBy(*gl) if gl else Window.partitionBy(F.lit(1))
    ).orderBy(value_col).rowsBetween(Window.unboundedPreceding, 0)
    wg = (
        Window.partitionBy(*gl) if gl else Window.partitionBy(F.lit(1))
    ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = cnt.select(
        *gl, value_col,
        F.sum("__w").over(w).cast("long").alias("__cum"),
        F.sum("__w").over(wg).cast("long").alias("__W"),
    )
    picks = [
        F.min(
            F.when(
                F.col("__cum") >= F.expr(f"({n} * __W + {d} - 1) div {d}"), v
            )
        ).alias(name)
        for name, (n, d) in qs.items()
    ]
    out = cum.groupBy(*gl).agg(
        F.max("__W").alias("total_weight"), *picks
    )
    return out


# Benford expected first-digit distribution in ppm (log10(1 + 1/d)),
# precomputed so no float log enters either engine.
_BENFORD_PPM = {1: 301030, 2: 176091, 3: 124939, 4: 96910,
                5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757}


def benford_deviation(df: DataFrame, amount_col, group_cols=()) -> DataFrame:
    """Benford's-law first-digit audit — the classic fraud /
    data-fabrication screen over financial or count columns. Input is
    an integer amount expression (>0 rows only); the first significant
    digit comes from the BIGINT string form (identical across
    engines — no float log10 anywhere).

    Output per (group,) digit 1..9: n, observed ppm, expected Benford
    ppm, signed deviation ppm, and the digit's chi-square contribution
    scaled 1e6 ((obs-exp)^2*1e6 DIV exp in HUGEINT/DECIMAL(38,0) —
    engine-exact). One map-side-combinable groupBy; a 9-rows-per-group
    digit grid ensures absent digits still report (n=0).
    """
    gl = list(group_cols)
    amt = amount_col if not isinstance(amount_col, str) else F.col(amount_col)
    base = (
        df.select(*gl, amt.cast("long").alias("__a"))
        .where(F.col("__a") > 0)
        .select(
            *gl,
            F.substring(F.col("__a").cast("string"), 1, 1)
            .cast("long")
            .alias("digit"),
        )
    )
    counts = base.groupBy(*gl, "digit").agg(F.count(F.lit(1)).alias("__n"))
    totals = base.groupBy(*gl).agg(F.count(F.lit(1)).alias("__t"))
    grid = totals.crossJoin(
        F.broadcast(
            df.sparkSession.range(1, 10).select(F.col("id").alias("digit"))
        )
    )
    exp_case = "CASE digit " + " ".join(
        f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()
    ) + " END"
    j = (
        grid.join(counts, [*gl, "digit"], "left")
        .select(
            *gl, "digit",
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n"),
            F.col("__t"),
            F.expr(exp_case).cast("long").alias("exp_ppm"),
        )
        .select(
            *gl, "digit", "n", "exp_ppm",
            F.expr("CAST(n * 1000000 div __t AS BIGINT)").alias("obs_ppm"),
        )
        .select(
            *gl, "digit", "n", "obs_ppm", "exp_ppm",
            (F.col("obs_ppm") - F.col("exp_ppm")).alias("dev_ppm"),
            F.expr(
                "CAST(CAST((obs_ppm - exp_ppm) AS DECIMAL(38,0))"
                " * (obs_ppm - exp_ppm) * 1000000 div exp_ppm AS BIGINT)"
            ).alias("chi2_contrib_e6"),
        )
    )
    return j


# 64 equal-probability Laplace(b=1) inverse-CDF bucket midpoints,
# scaled 1e6 (computed once offline with Python's math.log; embedded as
# integer literals so NO runtime float log runs on either engine).
def _laplace_mid_e6(buckets: int = 64):
    import math

    out = []
    for i in range(buckets):
        u = (i + 0.5) / buckets
        x = -math.log(2 * (1 - u)) if u >= 0.5 else math.log(2 * u)
        out.append(round(x * 1_000_000))
    return out


LAPLACE64_E6 = tuple(_laplace_mid_e6(64))


def dp_noisy_counts(
    df: DataFrame,
    group_cols,
    epsilon=(1, 1),
    sensitivity: int = 1,
    seed: str = "dp0",
) -> DataFrame:
    """Seeded-Laplace noisy group counts — the differential-privacy
    release MECHANISM (counting query, sensitivity/epsilon calibrated
    Laplace noise) with DETERMINISTIC noise: the Laplace draw is the
    inverse CDF of an md5-uniform of (seed, group), quantized to a
    64-bucket midpoint table precomputed offline (no runtime float
    log — the bootstrap_mean_ci convention). Deterministic noise is
    replayable by the oracle and reproducible across reruns; a real DP
    deployment swaps the seed for fresh randomness per release (noise
    REUSE across releases voids the privacy accounting — documented,
    not hidden).

    noise_e6 = LAPLACE64_E6[bucket] * sensitivity * eps_den DIV eps_num
    noisy_count_e6 = n * 1e6 + noise_e6

    Scale: one combinable groupBy count; md5 runs once per GROUP (not
    per row)."""
    num, den = epsilon
    gl = list(group_cols)
    case = "CASE __bkt " + " ".join(
        f"WHEN {i} THEN {m}" for i, m in enumerate(LAPLACE64_E6)
    ) + " END"
    key_sql = "concat_ws('|', " + ", ".join(
        f"CAST({c} AS STRING)" for c in gl
    ) + ")"
    return (
        df.groupBy(*gl)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn(
            "__bkt",
            F.expr(
                f"CAST(conv(substring(md5(concat('{seed}|', {key_sql})),"
                " 1, 8), 16, 10) AS BIGINT) % 64"
            ),
        )
        .withColumn("__lap", F.expr(case).cast("long") * sensitivity * den)
        # sign-decomposed division: Spark DIV truncates toward zero,
        # DuckDB // floors — they differ on negatives, so divide the
        # magnitude and reapply the sign (identical on both engines)
        .withColumn(
            "noise_e6",
            F.expr(
                f"CAST(CASE WHEN __lap < 0 THEN -((-__lap) div {num})"
                f" ELSE __lap div {num} END AS BIGINT)"
            ),
        )
        .select(
            *gl, "n", "noise_e6",
            (F.col("n") * 1_000_000 + F.col("noise_e6")).alias("noisy_count_e6"),
        )
    )


def gini_hhi(
    df: DataFrame,
    value_col: str,
    group_cols=(),
) -> DataFrame:
    """Concentration readout per group over PRE-AGGREGATED entity
    values (one row per entity, integer value, e.g. revenue cents):
    the Gini coefficient (inequality of the value distribution) and
    the Herfindahl-Hirschman index (sum of squared entity shares —
    the antitrust / vendor-concentration screen).

    Exact and engine-replayable: the Gini rank sum never sorts the
    entities globally — for each DISTINCT value v with count c and
    inclusive cumulative count cum (ascending v), the rows with value
    v occupy ranks (cum-c+1 .. cum), whose sum is c*(2*cum-c+1)/2
    (tie-safe: any permutation inside a tie block has the same rank
    sum). With R = sum(v * rank_sum) in DECIMAL(38,0):

        gini_ppm = (2R - (n+1)*S) * 1e6  div  (n * S)
        hhi_e6   = sum(v^2) * 1e6        div  S^2

    Both are single integer divisions at the end — no float anywhere.

    Scale: one combinable (group, value) count, one window cumsum over
    the bounded distinct-value table, one bounded per-group output
    row. Entities never globally sort.
    """
    from pyspark.sql import Window

    gl = list(group_cols)
    v = F.col(value_col)
    cnt = (
        df.where(v.isNotNull())
        .groupBy(*gl, value_col)
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    w = (
        Window.partitionBy(*gl) if gl else Window.partitionBy(F.lit(1))
    ).orderBy(value_col).rowsBetween(Window.unboundedPreceding, 0)
    cum = cnt.select(
        *gl, value_col, "__c",
        F.sum("__c").over(w).cast("long").alias("__cum"),
    )
    g = cum.groupBy(*gl).agg(
        F.sum("__c").cast("long").alias("n_entities"),
        F.sum(v * F.col("__c")).cast("long").alias("total"),
        F.sum(
            F.expr(
                f"CAST({value_col} AS DECIMAL(38,0)) * __c"
                " * (2 * __cum - __c + 1)"
            )
        ).alias("__2r"),  # = 2*R (c*(2cum-c+1) is always even)
        F.sum(
            F.expr(
                f"CAST({value_col} AS DECIMAL(38,0)) * {value_col} * __c"
            )
        ).alias("__sq"),
    )
    return g.select(
        *gl, "n_entities", "total",
        F.expr(
            "CAST((__2r - CAST(n_entities + 1 AS DECIMAL(38,0)) * total)"
            " * 1000000 div (CAST(n_entities AS DECIMAL(38,0)) * total)"
            " AS BIGINT)"
        ).alias("gini_ppm"),
        F.expr(
            "CAST(__sq * 1000000"
            " div (CAST(total AS DECIMAL(38,0)) * total) AS BIGINT)"
        ).alias("hhi_e6"),
    )


def kaplan_meier_weekly(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    cohort_col: str,
    order_cols=(),
    n_weeks: int = 4,
    churn_gap_days: int = 7,
) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes, bucketed to
    weeks — the retention readout with CORRECT censoring handling
    (users still active at the study end are censored, not counted as
    churn; naive retention curves conflate the two).

    Lifetimes come from the event log itself: per user, duration =
    last_ts - first_ts (capped at n_weeks-1 weekly buckets); the churn
    EVENT is observed iff the user has been silent for
    ``churn_gap_days`` before the global max timestamp, else the user
    is censored at their last week. Cohort = the ``cohort_col`` value
    of the user's FIRST event (deterministic (ts, order_cols)
    tie-break).

    The survival estimate is the standard KM product limit computed
    STEP-WISE IN INTEGERS: S_k = S_{k-1} * (n_k - d_k) div n_k in
    1e-12 units (S_{-1} = 1e12). Each step is one integer
    multiply-divide — deterministic on any engine at any scale, no
    float product, no log-space accumulation. Week counts (at-risk /
    events / censored) are exact.

    Output: one row per (cohort, week): n_at_risk, n_events,
    n_censored, surv_e12.

    Scale: one combinable per-user aggregate, one tiny per-cohort
    pivot (n_weeks bounded), explode back to long form. The event log
    is read once."""
    K = int(n_weeks)
    oc = list(order_cols)
    # ONE combinable per-user pass: the cohort rides inside a struct-min
    # keyed on (ts, order_cols) — identical to the row_number()=1 pick
    # when the ordering key is unique, without the window shuffle + join
    # that pick would cost.
    per_user = df.groupBy(F.col(user_col).alias("__u")).agg(
        F.min(
            F.struct(
                F.col(ts_col).alias("ts"),
                *[F.col(c).alias(c) for c in oc],
                F.col(cohort_col).alias("coh"),
            )
        ).alias("__f"),
        F.max(ts_col).alias("__last"),
    )
    gmax = df.agg(F.max(ts_col).alias("__gmax"))
    u = (
        per_user.crossJoin(F.broadcast(gmax))
        .select(
            F.col("__f.coh").alias("cohort"),
            F.col("__f.ts").alias("__first"),
            "__last",
            "__gmax",
        )
        .select(
            "cohort",
            F.least(
                F.expr("datediff(__last, __first) div 7"), F.lit(K - 1)
            ).cast("int").alias("__wk"),
            (
                F.col("__last")
                <= F.col("__gmax") - F.expr(f"INTERVAL {churn_gap_days} DAYS")
            ).cast("int").alias("__obs"),
        )
    )
    aggs = []
    for k in range(K):
        aggs.append(
            F.sum(
                F.when((F.col("__wk") == k) & (F.col("__obs") == 1), 1)
                .otherwise(0)
            ).cast("long").alias(f"__d{k}")
        )
        aggs.append(
            F.sum(
                F.when((F.col("__wk") == k) & (F.col("__obs") == 0), 1)
                .otherwise(0)
            ).cast("long").alias(f"__c{k}")
        )
    wide = u.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("__n"), *aggs
    )
    # sequential product limit, nested as integer expressions
    surv_prev = "1000000000000"
    cols = []
    removed = "0"
    for k in range(K):
        nk = f"(__n - ({removed}))"
        sk = (
            f"CAST(CAST({surv_prev} AS DECIMAL(38,0)) * ({nk} - __d{k})"
            f" div {nk} AS BIGINT)"
        )
        cols.append(
            f"struct(CAST({k} AS INT) AS week, CAST({nk} AS BIGINT)"
            f" AS n_at_risk, __d{k} AS n_events, __c{k} AS n_censored,"
            f" ({sk}) AS surv_e12)"
        )
        surv_prev = sk
        removed = f"{removed} + __d{k} + __c{k}"
    return (
        wide.select(
            "cohort", F.explode(F.expr(f"array({','.join(cols)})")).alias("__s")
        )
        .select(
            "cohort", "__s.week", "__s.n_at_risk", "__s.n_events",
            "__s.n_censored", "__s.surv_e12",
        )
        .where(F.col("n_at_risk") > 0)
    )


def welch_ttest(
    df: DataFrame,
    value_col: str,
    is_a_col,
) -> DataFrame:
    """Welch's unequal-variance two-sample t-test — the parametric
    companion of mann_whitney_u for A/B mean comparisons when the
    variants have different spread. The data pass collects EXACT
    integer sufficient statistics (n, sum, sum-of-squares per variant,
    value_col integer-valued — pre-scale money to cents); the t
    statistic and the Welch-Satterthwaite degrees of freedom are then
    fixed IEEE expression trees over those integers (+,-,*,/,sqrt are
    all correctly-rounded, so two engines agree bit-for-bit; rounded
    to 9/6 digits at the boundary).

    Returns ONE row: n_a, n_b, mean_a_e6, mean_b_e6 (exact integer
    rationals), t_stat, welch_df.

    Scale: one map-side-combinable aggregate; everything downstream is
    scalar arithmetic on a single row."""
    a = F.when(is_a_col, 1).otherwise(0)
    b = F.when(is_a_col, 0).otherwise(1)
    x = F.col(value_col).cast("long")
    g = df.where(x.isNotNull()).agg(
        F.sum(a).cast("long").alias("n_a"),
        F.sum(b).cast("long").alias("n_b"),
        F.sum(a * x).cast("long").alias("__sa"),
        F.sum(b * x).cast("long").alias("__sb"),
        F.sum(a * x * x).cast("long").alias("__qa"),
        F.sum(b * x * x).cast("long").alias("__qb"),
    )
    # exact rational means in 1e-6 units (integer div convention)
    out = g.select(
        "n_a", "n_b",
        F.expr(
            "CAST(CAST(__sa AS DECIMAL(38,0)) * 1000000 div n_a AS BIGINT)"
        ).alias("mean_a_e6"),
        F.expr(
            "CAST(CAST(__sb AS DECIMAL(38,0)) * 1000000 div n_b AS BIGINT)"
        ).alias("mean_b_e6"),
        # variance/n as one double tree: v = (Q - S*S/n)/(n-1)/n
        F.expr(
            "(CAST(__qa AS DOUBLE) - CAST(__sa AS DOUBLE)"
            " * CAST(__sa AS DOUBLE) / CAST(n_a AS DOUBLE))"
            " / (CAST(n_a AS DOUBLE) - 1.0) / CAST(n_a AS DOUBLE)"
        ).alias("__va"),
        F.expr(
            "(CAST(__qb AS DOUBLE) - CAST(__sb AS DOUBLE)"
            " * CAST(__sb AS DOUBLE) / CAST(n_b AS DOUBLE))"
            " / (CAST(n_b AS DOUBLE) - 1.0) / CAST(n_b AS DOUBLE)"
        ).alias("__vb"),
        F.expr(
            "CAST(__sa AS DOUBLE) / CAST(n_a AS DOUBLE)"
            " - CAST(__sb AS DOUBLE) / CAST(n_b AS DOUBLE)"
        ).alias("__md"),
    )
    return out.select(
        "n_a", "n_b", "mean_a_e6", "mean_b_e6",
        F.round(
            F.expr("__md / sqrt(__va + __vb)"), 9
        ).alias("t_stat"),
        F.round(
            F.expr(
                "(__va + __vb) * (__va + __vb) /"
                " (__va * __va / (CAST(n_a AS DOUBLE) - 1.0)"
                "  + __vb * __vb / (CAST(n_b AS DOUBLE) - 1.0))"
            ),
            6,
        ).alias("welch_df"),
    )


# chi-square critical values at alpha=0.05 by degrees of freedom, in
# ppm (goodness-of-fit flag thresholds; literal so both engines see
# the same constant)
_CHI2_CRIT_PPM_05 = {
    1: 3841459, 2: 5991465, 3: 7814728, 4: 9487729, 5: 11070498,
    6: 12591587, 7: 14067140, 8: 15507313, 9: 16918978, 10: 18307038,
    11: 19675138, 12: 21026070, 13: 22362032, 14: 23684791, 15: 24995790,
    16: 26296228, 17: 27587112, 18: 28869299, 19: 30143527, 20: 31410433,
}


def srm_check(
    df: DataFrame,
    variant_col,
    expected,
) -> DataFrame:
    """Sample-ratio-mismatch check — the first gate of every A/B
    readout: a chi-square goodness-of-fit of observed assignment counts
    against the DESIGNED split. A randomizer bug (bot filtering, sticky
    sessions, a crashed variant) shows up here before any metric is
    worth reading.

    `expected` maps variant value -> integer design weight (e.g.
    {"control": 1, "treatment": 1} for 50/50). With E_i = N*w_i/W,
    chi2 = sum (O_i - E_i)^2 / E_i is computed EXACTLY in integers as
    chi2_ppm = sum_i 1e6 * (O_i*W - N*w_i)^2 div (W*N*w_i) —
    DECIMAL(38,0) arithmetic, replayable bit-for-bit in SQL. Rows whose
    variant is not in the design are counted separately (n_unexpected),
    never silently folded into the test.

    Scale: ONE combinable groupBy over the assignment column (k rows
    cross the wire), then arithmetic on the k-row frame. Returns one
    row: (n, k, n_unexpected, chi2_ppm, significant_05) with the flag
    thresholded at the df = k-1 alpha=0.05 critical value.
    """
    items = sorted(expected.items())
    if not items or any(int(w) <= 0 for _, w in items):
        raise ValueError("expected must map variants to positive weights")
    if len(items) < 2:
        raise ValueError("SRM needs at least 2 designed variants")
    df_k = len(items) - 1
    if df_k not in _CHI2_CRIT_PPM_05:
        raise ValueError(f"no alpha=0.05 critical value for df={df_k}")
    W = sum(int(w) for _, w in items)
    v = F.col(variant_col) if isinstance(variant_col, str) else variant_col
    from xorq_spark.operators.localframe import lit_table

    spark = df.sparkSession
    design = lit_table(
        spark, [(str(k_), int(w)) for k_, w in items], "__v string, __w long"
    )
    counts = (
        df.select(v.cast("string").alias("__v"))
        .groupBy("__v")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    # design LEFT JOIN counts: a designed variant nobody landed in
    # still contributes (0 - E_i)^2 / E_i — dropping it would HIDE the
    # worst SRM (a dead variant)
    obs = design.join(counts, "__v", "left").select(
        "__v", "__w", F.coalesce(F.col("__c"), F.lit(0)).alias("__o")
    )
    tot = obs.agg(F.coalesce(F.sum("__o"), F.lit(0)).alias("__n")).crossJoin(
        counts.join(F.broadcast(design), "__v", "anti").agg(
            F.coalesce(F.sum("__c"), F.lit(0)).alias("__nu")
        )
    )
    terms = (
        obs.crossJoin(F.broadcast(tot))
        .select(
            F.col("__n"),
            F.col("__nu"),
            F.expr(
                f"CASE WHEN __n = 0 THEN CAST(0 AS BIGINT) ELSE CAST("
                f"  CAST(1000000 AS DECIMAL(38,0))"
                f"  * CAST(__o * {W} - __n * __w AS DECIMAL(38,0))"
                f"  * CAST(__o * {W} - __n * __w AS DECIMAL(38,0))"
                f"  div (CAST({W} AS DECIMAL(38,0))"
                f"       * CAST(__n AS DECIMAL(38,0))"
                f"       * CAST(__w AS DECIMAL(38,0)))"
                f" AS BIGINT) END"
            ).alias("__t"),
        )
    )
    return terms.groupBy().agg(
        F.first("__n").alias("n"),
        F.lit(len(items)).cast("long").alias("k"),
        F.first("__nu").alias("n_unexpected"),
        F.sum("__t").alias("chi2_ppm"),
    ).withColumn(
        "significant_05",
        F.col("chi2_ppm") >= F.lit(_CHI2_CRIT_PPM_05[df_k]),
    )


def randomization_test(
    df: DataFrame,
    value_col,
    group_col,
    b: int = 64,
    key_cols=("doc_id",),
    salt: str = "rt",
) -> DataFrame:
    """Randomization (permutation-style) test for a difference in group
    means: relabel every row B times with a deterministic pairwise-
    independent coin, recompute |mean_A - mean_B| under each
    relabeling, and report the fraction at least as extreme as the
    observed difference — the nonparametric significance readout that
    needs no normality assumption.

    Determinism (the bootstrap_mean_ci Carter-Wegman pattern): each row
    draws (v1, v2) from two 32-bit md5 chunks of its key; relabeling b
    uses bit ((v1 + v2*b) mod 2^31-1) & 1, with v2 = 0 remapped to 1 so
    no row is constant across relabelings. Both engines replay the
    identical integer stream, so the p-value is exact and rerun-stable
    (pairwise independence across b, disclosed like the bootstrap's).

    Scale: ONE wide codegen'd aggregate computes the observed sums and
    all 2B relabeled sums in a single pass — no data-sized shuffle, no
    per-b scan (the agg_bootstrap_ci design); the B per-relabeling
    statistics then derive from a one-row frame. Relabelings that land
    every row in one group (probability ~2^-N) produce a NULL statistic
    and are excluded from the exceedance count, never from B.

    Returns one row: (n, n_a, n_b, obs_diff, b_total, b_ge, p_value).
    """
    if b < 1 or b > 512:
        raise ValueError("b must be in [1, 512]")
    M = 2147483647
    v = (F.col(value_col) if isinstance(value_col, str) else value_col).cast(
        "long"
    )
    g = (F.col(group_col) if isinstance(group_col, str) else group_col).cast(
        "boolean"
    )
    key = F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in key_cols]
    )
    h = F.md5(F.concat(F.lit(salt + "|"), key))
    v1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % F.lit(M)
    v2r = F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % F.lit(M)
    v2 = F.when(v2r == 0, F.lit(1)).otherwise(v2r)
    base = df.where(v.isNotNull() & g.isNotNull()).select(
        v.alias("__v"), g.alias("__g"), v1.alias("__v1"), v2.alias("__v2")
    )

    # The B-wide update row is built as SQL STRINGS parsed JVM-side in
    # one call per expression: composing it Column-by-Column costs
    # thousands of py4j round-trips (~15 s of pure driver-side build at
    # b=64, and the source of this query's pass-to-pass bench variance
    # — the cluster never saw any of that time). The parsed trees are
    # the identical expressions the Column API produced, so results are
    # bit-unchanged.
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__v")).alias("__s"),
        F.sum(F.when(F.col("__g"), F.col("__v"))).alias("__sa"),
        F.sum(F.col("__g").cast("long")).alias("n_a"),
    ]
    for i in range(b):
        bit = f"((__v1 + __v2 * {i}) % {M}) % 2 = 1"
        aggs.append(F.expr(f"sum(case when {bit} then __v end) as __s{i}"))
        aggs.append(F.expr(f"sum(cast(({bit}) as bigint)) as __n{i}"))
    wide = base.agg(*aggs)

    def mean_diff_sql(s_a, n_a, s_tot, n_tot):
        # |mean_a - mean_b| as one double tree over exact integer sums
        return (
            f"abs(cast({s_a} as double) / cast({n_a} as double)"
            f" - cast(({s_tot}) - ({s_a}) as double)"
            f" / cast(({n_tot}) - ({n_a}) as double))"
        )

    obs = F.expr(mean_diff_sql("__sa", "n_a", "__s", "n"))
    stats = wide.select(
        "n",
        "n_a",
        (F.col("n") - F.col("n_a")).cast("long").alias("n_b"),
        F.round(obs, 9).alias("obs_diff"),
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"case when __n{i} > 0 and __n{i} < n then "
                    + mean_diff_sql(
                        f"coalesce(__s{i}, 0)", f"__n{i}", "__s", "n"
                    )
                    + " end"
                    for i in range(b)
                )
                + ")"
            )
        ).alias("__stat"),
    )
    return stats.groupBy("n", "n_a", "n_b", "obs_diff").agg(
        F.lit(b).cast("long").alias("b_total"),
        F.sum(
            (F.col("__stat") >= F.col("obs_diff")).cast("long")
        ).alias("b_ge"),
    ).select(
        "n",
        "n_a",
        "n_b",
        "obs_diff",
        "b_total",
        F.coalesce(F.col("b_ge"), F.lit(0)).alias("b_ge"),
        F.round(
            F.coalesce(F.col("b_ge"), F.lit(0)).cast("double")
            / F.lit(float(b)),
            9,
        ).alias("p_value"),
    )


def msprt_sequential(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    treat_col,
    sigma2: float,
    tau2: float,
    alpha_e9: int = 50_000_000,
    quant: int = 1000,
    day_us: int = 86_400_000_000,
) -> DataFrame:
    """Always-valid sequential A/B test — the mixture SPRT (Johari,
    Koomen, Pekelis & Walsh 2017/2022): instead of a fixed-horizon
    t-test that inflates error under peeking, the likelihood ratio of a
    N(0, tau2) effect mixture against H0 (no difference) is monitored
    per day; p_d = min(1, 1/max_{d' <= d} Lambda_d') is a valid p-value
    at EVERY peek, so the experimenter may stop the moment it crosses
    alpha. Two-sample form via the effective sample size
    n = na*nb/(na+nb) and the known-variance parameter `sigma2`
    (both in quantized units^2):

      ln Lambda = 0.5*ln(sigma2/(sigma2 + n*tau2))
                  + n^2*tau2*delta^2 / (2*sigma2*(sigma2 + n*tau2))

    Determinism: values quantize at `quant` (time_cusum convention);
    daily arm sums/counts are exact integers whose RUNNING totals, the
    running max, and the crossing flag all run over the BOUNDED
    per-day frame (#days rows — the sanctioned bounded-frame
    exception; round 8 dropped the former running_sum detour here: a
    range shuffle + eager localCheckpoint for a ~30-row frame added
    two jobs whose block-manager first-touch was the bench variance
    tail); delta and ln Lambda are ONE double tree over those integers
    (exp/ln only — the bm25 transcendental precedent), quantized to
    e9.

    Returns per-day rows: (day_us, na, nb, delta_e9, ln_lambda_e9,
    p_e9, significant)."""
    tr = (
        F.col(treat_col) if isinstance(treat_col, str) else treat_col
    ).cast("boolean")
    vq = F.floor(F.col(value_col).cast("double") * quant + F.lit(0.5)).cast(
        "long"
    )
    d = (
        df.where(
            F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
            & tr.isNotNull()
        )
        .select(
            (
                F.floor(
                    F.unix_micros(F.col(ts_col).cast("timestamp"))
                    / F.lit(day_us)
                )
                * F.lit(day_us)
            ).cast("long").alias("day_us"),
            tr.alias("__g"),
            vq.alias("__vq"),
        )
    )
    daily = d.groupBy("day_us").agg(
        F.sum(F.when(F.col("__g"), F.col("__vq")).otherwise(F.lit(0)))
        .alias("__sa_d"),
        F.sum(F.when(F.col("__g"), 1).otherwise(0)).alias("__na_d"),
        F.sum(F.when(~F.col("__g"), F.col("__vq")).otherwise(F.lit(0)))
        .alias("__sb_d"),
        F.sum(F.when(~F.col("__g"), 1).otherwise(0)).alias("__nb_d"),
    )
    return msprt_readout(daily, sigma2, tau2, alpha_e9=alpha_e9)


def msprt_readout(
    daily: DataFrame,
    sigma2: float,
    tau2: float,
    alpha_e9: int = 50_000_000,
) -> DataFrame:
    """The always-valid readout over per-day arm sufficient statistics
    (day_us, __sa_d, __na_d, __sb_d, __nb_d) — split out so the
    STREAMING monitor (queries/streaming_queries.py stream_msprt_daily)
    can maintain the daily state incrementally and run the identical
    readout over its drained state store. See msprt_sequential."""
    from pyspark.sql import Window

    # The per-day frame is BOUNDED by construction (#days rows however
    # large the event stream), so the running arm totals use the
    # sanctioned bounded partition-less window — running_sum's range
    # shuffle + eager localCheckpoint cost two extra jobs per call,
    # a variable block-manager toll on a ~30-row frame.
    w0 = Window.orderBy("day_us").rowsBetween(Window.unboundedPreceding, 0)
    run = daily.select(
        "day_us",
        F.sum("__na_d").over(w0).alias("na"),
        F.sum("__sa_d").over(w0).alias("sa"),
        F.sum("__nb_d").over(w0).alias("nb"),
        F.sum("__sb_d").over(w0).alias("sb"),
    )
    s2, t2 = float(sigma2), float(tau2)
    delta = F.col("sa").cast("double") / F.col("na").cast("double") - F.col(
        "sb"
    ).cast("double") / F.col("nb").cast("double")
    neff = (
        F.col("na").cast("double")
        * F.col("nb").cast("double")
        / (F.col("na") + F.col("nb")).cast("double")
    )
    lnlam = F.lit(0.5) * F.log(
        F.lit(s2) / (F.lit(s2) + neff * F.lit(t2))
    ) + (
        neff * neff * F.lit(t2) * delta * delta
    ) / (
        F.lit(2.0) * F.lit(s2) * (F.lit(s2) + neff * F.lit(t2))
    )
    scored = run.select(
        "day_us",
        F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"),
        F.when(
            (F.col("na") > 0) & (F.col("nb") > 0),
            F.round(delta * 1e9, 0).cast("long"),
        ).alias("delta_e9"),
        F.when(
            (F.col("na") > 0) & (F.col("nb") > 0),
            F.round(lnlam * 1e9, 0).cast("long"),
        ).alias("ln_lambda_e9"),
    )
    w = Window.orderBy("day_us").rowsBetween(Window.unboundedPreceding, 0)
    out = scored.withColumn(
        "__maxln", F.max("ln_lambda_e9").over(w)
    ).select(
        "day_us",
        "na",
        "nb",
        "delta_e9",
        "ln_lambda_e9",
        F.when(
            F.col("__maxln").isNull() | (F.col("__maxln") <= 0),
            F.lit(10**9),
        )
        .otherwise(
            F.round(
                F.exp(-(F.col("__maxln").cast("double") / F.lit(1e9))) * 1e9,
                0,
            ).cast("long")
        )
        .cast("long")
        .alias("p_e9"),
    )
    return out.withColumn(
        "significant", F.col("p_e9") <= F.lit(int(alpha_e9))
    )
