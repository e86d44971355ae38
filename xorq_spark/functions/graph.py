"""Link-graph operators for corpus curation: PageRank as the quality/
importance weight of a web-crawl link graph (the classic signal for
weighting training documents by host/page authority).

Integer-exact design: floating-point PageRank is not reproducible
across engines (per-partition sum order perturbs the low bits), so the
iteration here runs entirely in scaled int64 arithmetic — ranks are
units of 1/scale, every division is integer division, and sums of
int64 are order-independent. The result is a deterministic PageRank
variant with relative quantization error ~N/scale (pick scale >> node
count; default 1e12), and the SAME recurrence is SQL-expressible, so an
external engine certifies every iteration bit-for-bit.

Scale notes (100 TB): each iteration is one edges⋈ranks shuffle keyed
on src plus one groupBy(dst) — the canonical distributed PageRank
shape. Iterations are a fixed small count (curation wants a coarse
authority score, not convergence to 1e-9); for long chains use
localCheckpoint between iterations as connected_components does. The
dangling-mass term is a single-row aggregate broadcast back, never a
driver collect.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from xorq_spark.operators.partitioning import widen

DEFAULT_SCALE = 10**12


# _static_rounds: see session.static_compile — the graph rounds were
# where the AQE-off compile of hand-partitioned round bodies was first
# measured (pagerank 2.41 -> 2.09 s, LPA 2.42 -> 1.88 s interleaved);
# promoted to session.py once non-graph bounded tails (HDR readout)
# wanted the same treatment.
from xorq_spark.session import static_compile as _static_rounds


def _sanitize_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Shared edge-list preamble (same as pagerank/bfs_hops/hits):
    cast endpoints to long, drop null and self-loop edges, distinct —
    a self-loop or null edge would otherwise inflate degrees, wedges,
    and walk adjacency."""
    return (
        edges.select(
            F.col(src).cast("long").alias("src"),
            F.col(dst).cast("long").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: tuple = (85, 100),
    scale: int = DEFAULT_SCALE,
) -> DataFrame:
    """Integer-exact PageRank over a directed edge list.

    Returns (node, rank_scaled): rank in units of 1/scale. The exact
    recurrence (all integer division, mirrored by the SQL oracle):

        r0(v)     = scale DIV n
        dang_k    = sum of r_k(u) over nodes with no out-edges
        inc_k(v)  = sum over edges u->v of (r_k(u) DIV outdeg(u))
        r_{k+1}(v)= ((den-num)*scale DIV den DIV n)
                    + (num * (inc_k(v) + dang_k DIV n)) DIV den

    damping = (num, den) as integers (default 85/100) so no float ever
    enters the computation. Self-loops and duplicate edges are removed
    first (standard PageRank preprocessing).
    """
    num, den = damping
    # The edge/node/degree frames are read by EVERY iteration; without
    # materialization Spark re-derives them from the source once per
    # reference (the iteration DAG nests), turning 3 iterations into
    # ~7 scans+distincts. Eager localCheckpoint pins them once and
    # truncates the per-iteration lineage exactly as
    # connected_components does (cluster note: prefer checkpoint() with
    # a checkpoint dir, which survives executor loss).
    e_raw = (
        edges.select(
            F.col(src).cast("long").alias("src"),
            F.col(dst).cast("long").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Size the per-iteration shuffles to the MEASURED edge count (known
    # free from the checkpoint materialization): at the session's
    # fact-table partition count a sparse graph's per-round stages are
    # mostly empty-task scheduling overhead. ~125k edges per partition
    # (the rank-sum rounds do real CPU per edge, unlike kcore's cheap
    # semi-join peels which keep 500k — interleaved A/B: pagerank
    # 2.26->2.13 s, LPA 2.89->2.34 s at 125k, while kcore regressed
    # 2.20->2.43 there), clamped to the session default, restored on
    # exit.
    spark = edges.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    old_parts = spark.conf.get(conf_key)
    n_edges = e_raw.count()
    fit = max(1, min(int(old_parts), n_edges // 125_000 + 1))
    try:
        spark.conf.set(conf_key, str(fit))
        # Round-8 one-exchange layout (the label_propagation pattern:
        # localCheckpoint preserves partitioning in the LogicalRDD):
        # edges hash-partitioned on src ONCE; outdeg and nodes land on
        # the same modulus, so every per-round join — ranks⋈outdeg,
        # e⋈rd, nodes⋈incoming — is co-partitioned, and the only
        # per-round exchange moves rank contributions to their dst.
        e = e_raw.repartition(fit, "src").localCheckpoint(eager=True)
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()  # exchanges hash(node, fit) under the conf
            .localCheckpoint(eager=True)
        )
        outdeg = e.groupBy("src").agg(
            F.count(F.lit(1)).alias("outdeg")
        ).localCheckpoint(eager=True)
        n = nodes.count()  # one bounded scalar; the rest stays distributed
        if n == 0:
            return nodes.select(
                "node", F.lit(0).cast("long").alias("rank_scaled")
            )
        base = (den - num) * scale // den // n
        ranks = nodes.select(
            "node", F.lit(scale // n).cast("long").alias("r")
        )
        with _static_rounds(spark):
            return _pagerank_iterations(
                e, nodes, outdeg, ranks, iterations, base, n, num, den
            )
    finally:
        spark.conf.set(conf_key, old_parts)


def _pagerank_iterations(e, nodes, outdeg, ranks, iterations, base, n, num, den):
    for _ in range(iterations):
        # ONE ranks⋈outdeg join per round, shared by the dangling-mass
        # aggregate and the contribution scan (the former plan joined
        # the EDGE-SIZED e⋈ranks stream against outdeg again — an
        # extra |E|-row exchange every round). Lazy checkpoint: both
        # consumers share the computed frame without a scheduling
        # round-trip.
        rd = (
            ranks.join(outdeg, ranks["node"] == outdeg["src"], "left")
            .select("node", "r", "outdeg")
            .localCheckpoint(eager=False)
        )
        dang = rd.where(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dang")
        )
        contrib = (
            e.alias("e")
            .join(rd.alias("rk"), F.col("e.src") == F.col("rk.node"))
            .select(
                F.col("e.dst").alias("node"),
                F.expr("r DIV outdeg").alias("c"),
            )
        )
        incoming = contrib.groupBy("node").agg(
            F.sum("c").cast("long").alias("inc")
        )
        ranks = (
            nodes.join(incoming, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"({num} * (coalesce(inc, 0) + dang DIV {n})) DIV {den}")
                ).cast("long").alias("r"),
            )
            # lazy checkpoint: lineage still truncates (each iteration
            # computes once, shared by next round's three consumers),
            # but materialization happens inside the next job instead
            # of as its own scheduling round-trip — one job chain for
            # the whole recurrence rather than one job per iteration
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.col("r").alias("rank_scaled"))


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
) -> DataFrame:
    """Deterministic synchronous label propagation (community
    detection) over an undirected graph — the cheap clustering signal
    for crawl graphs (mirror/host communities) next to PageRank's
    authority weights.

    Semantics (engine-replayable, no randomness): labels start as node
    ids; each round EVERY node simultaneously adopts the most frequent
    label among its neighbors, ties to the smallest label. A fixed
    small iteration count (curation wants coarse communities, not
    convergence); unlike min-label propagation this is NOT connected
    components — dense neighborhoods out-vote bridges.

    Scale: symmetrized edge list hash-partitioned on src ONCE and
    reused every round (localCheckpoint preserves the partitioning in
    the LogicalRDD — the bfs_hops frontier pattern); labels stay
    hash-partitioned on node throughout. Each round then pays exactly
    ONE exchange — moving labels along edges (repartition on the
    receiving node) — because the edges⋈labels join is co-partitioned,
    the (node,label) count and the per-node arg-min both reuse
    hash(node) (ClusteredDistribution is satisfied by the single-key
    partitioning), and the nodes⋈best join is co-partitioned too.
    Tie-break via min(struct(-count, label)) keeps the reduction
    combinable.

    Returns (node, community)."""
    # Canonicalize-then-mirror symmetrization (round 9, guide §2.4):
    # distinct once on (least, greatest) pairs; the two mirrored halves
    # are then DISJOINT and each internally distinct, so their union IS
    # the symmetric closure — the former distinct over the 2|E|-row
    # union (a second full exchange + aggregate) is gone, and the
    # pinned frame holds |E| rows instead of 2|E|. Identical edge set
    # by construction (symmetric closure only sees unordered pairs).
    e0 = (
        edges.select(
            F.least(F.col(src).cast("long"), F.col(dst).cast("long")).alias("a"),
            F.greatest(F.col(src).cast("long"), F.col(dst).cast("long")).alias("b"),
        )
        .where(F.col("a").isNotNull() & (F.col("a") < F.col("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Size the per-round shuffles to the MEASURED edge count (free from
    # the checkpoint materialization) — the pagerank pattern: at the
    # session's fact-table width a sparse graph's per-round stages are
    # mostly empty-task scheduling overhead. 125k edges per partition,
    # like pagerank: the per-round label-count aggregation is CPU-dense
    # (see the divisor note there).
    spark = edges.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    old_parts = spark.conf.get(conf_key)
    fit = max(1, min(int(old_parts), (2 * e0.count()) // 125_000 + 1))
    try:
        spark.conf.set(conf_key, str(fit))
        e = (
            e0.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .union(e0.select(F.col("b").alias("src"), F.col("a").alias("dst")))
            .repartition(fit, "src")
            .localCheckpoint(eager=True)
        )
        nodes = (
            e.select(F.col("src").alias("node"))
            .distinct()  # exchanges hash(node, fit) under the conf
            .localCheckpoint(eager=True)
        )
        labels = nodes.select("node", F.col("node").alias("lab"))
        with _static_rounds(spark):
            for _ in range(iterations):
                nb = (
                    e.join(  # co-partitioned on src == node: no exchange
                        labels.withColumnRenamed("node", "__n"),
                        F.col("src") == F.col("__n"),
                    )
                    .select(F.col("dst").alias("node"), "lab")
                    .repartition(fit, "node")  # THE round exchange
                )
                cnt = nb.groupBy("node", "lab").agg(F.count(F.lit(1)).alias("c"))
                best = cnt.groupBy("node").agg(
                    F.min(F.struct((-F.col("c")).alias("nc"), F.col("lab").alias("lab"))).alias("m")
                ).select("node", F.col("m.lab").alias("__newlab"))
                labels = (
                    nodes.join(best, "node", "left")
                    .select(
                        "node",
                        F.coalesce(F.col("__newlab"), F.col("node")).alias("lab"),
                    )
                    # lazy checkpoint: lineage truncates, materialization
                    # folds into the next round's first consumer (see
                    # _pagerank_iterations)
                    .localCheckpoint(eager=False)
                )
    finally:
        spark.conf.set(conf_key, old_parts)
    return labels.select("node", F.col("lab").alias("community"))


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    coef_scale: int = 10**9,
    broadcast_edge_bound: int = 4_000_000,
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected simple graph — the density signal for near-duplicate /
    co-occurrence graphs (a node whose neighborhood closes into
    triangles sits inside a tight cluster; a high-degree node with no
    triangles is a hub/bridge).

    Scale design — degree orientation (cf. Suri & Vassilvitskii
    WWW'11) with ADJACENCY-INTERSECTION closure: each undirected edge
    is oriented from its lower-(degree, id) endpoint to the higher one,
    which bounds every out-neighborhood by O(sqrt(m)); out-neighbor
    sets become per-node arrays SORTED IN ORIENTATION ORDER, and for
    each oriented edge (s, t) the triangles through it are
    |A(s) ∩ A(t)| — computed in-row, so the m^(3/2)-sized wedge set
    NEVER materializes as rows or crosses an exchange. Round-8 suffix
    refinement: a closing corner z follows BOTH s and t in orientation
    order, so only the suffix of A(s) strictly AFTER t's position can
    intersect A(t) — and because the oriented edges (s, t) are exactly
    the positions of A(s) itself, each edge's s-side suffix is
    generated IN-ROW from the adjacency list (posexplode + slice): the
    former o ⋈ A(s) attach join is gone entirely, and the s-side
    array cells riding the t-keyed exchange drop from sum(deg_out²)
    to sum(deg_out·(deg_out−1)/2) — half the bytes, one less join
    (round 6: the wedge self-join exchanged the wedge stream twice;
    round 7 measured the in-row intersect at 10.4s -> 3.3s at sf0.1
    with the broadcast gate forced off). Skew-immune: a celebrity
    node's edges all point INTO it so its array stays O(sqrt(m)), and
    the only join is a t-keyed equi-join AQE can skew-split.

    Integer-exact: counts are exact; the clustering coefficient
    2*tri DIV (deg*(deg-1)) is scaled integer division so the SQL
    oracle replays it bit-for-bit.

    Returns (node, degree, n_triangles, clustering_coef_e9), one row
    per node of the canonicalized graph.
    """
    e0 = edges.select(
        F.least(F.col(src).cast("long"), F.col(dst).cast("long")).alias("u"),
        F.greatest(F.col(src).cast("long"), F.col(dst).cast("long")).alias("v"),
    ).where(F.col("u").isNotNull() & F.col("v").isNotNull()).where(
        F.col("u") < F.col("v")
    )
    # Rebalance an under-parallel pair stream before the edge-distinct
    # (round 9): the stream carries real upstream compute, so a wider
    # partial distinct pays (interleaved A/B: min 3.10 -> 2.82 s). On
    # the plain-scan preambles (pagerank/LPA/kcore) the same rebalance
    # measured 10-18% SLOWER and was reverted. A plan no-op whenever
    # the scan already runs at cluster parallelism.
    e0 = widen(e0).distinct().localCheckpoint(eager=True)
    # One synchronous barrier for the whole operator: the broadcast
    # gate needs the edge count NOW, and |o| == |e0| by construction
    # (o inner-joins e0 against its own degree table, which contains
    # every endpoint), so counting the just-materialized e0 replaces
    # the former o.count() — which forced deg and o to materialize
    # eagerly first (3 sequential driver round-trips). deg/o/adj
    # become LAZY checkpoints: still computed exactly once (each has
    # two consumers), but inside the final job chain (the pagerank
    # pattern). Round 10: the same single barrier also measures the id
    # range, which gates the encoded-orientation fast path below.
    _b = e0.agg(
        F.count(F.lit(1)).alias("m"),
        F.min("u").alias("lo"),
        F.max("v").alias("hi"),
    ).collect()[0]
    m_edges = _b["m"]
    # Encoded orientation key (round 10): sort_array over
    # struct(dt, t) dominated the adjacency-build stage's CPU (6.2
    # CPU-s of the sf0.1 pass). When every node id fits in 31 bits
    # (non-negative, < 2^31) and degrees do too (deg <= 2m), the pair
    # (dt, t) packs injectively and order-preservingly into ONE long
    # shiftleft(dt, 31) + t — long sort + long collect replace the
    # struct forms, and the closure intersects the ENCODED keys
    # directly (equal key <=> equal corner node, since deg(z) is a
    # function of z). Gated on the MEASURED bounds from the barrier
    # above; other ids take the struct path. Values identical either
    # way — same total order, same intersection cardinalities, ids
    # decoded with a mask at the end.
    enc = (
        m_edges > 0
        and _b["lo"] is not None
        and _b["lo"] >= 0
        and _b["hi"] < (1 << 31)
        and 2 * m_edges < (1 << 31)
    )
    # Below the broadcast bound the whole closure is map-side over
    # checkpointed frames (the only runtime decision AQE could make is
    # stage sizing, at one driver round-trip per exchange — the
    # pagerank/_static_rounds finding; interleaved A/B 3.02 -> 2.79 s).
    # Above the bound the t-keyed shuffle join KEEPS AQE for its skew
    # split of a celebrity sink node.
    # Exception-safe conf scope (round 10, ADVICE): an AnalysisException
    # while building deg/o/adj/pairs must still restore
    # spark.sql.adaptive.enabled on the shared session — try/finally,
    # like every other _static_rounds call site's `with` form.
    _static = None
    if m_edges <= int(broadcast_edge_bound):
        from contextlib import ExitStack

        _static = ExitStack()
        _static.enter_context(_static_rounds(edges.sparkSession))
    try:
        deg = (
            e0.select(F.col("u").alias("node"))
            .union(e0.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
            .localCheckpoint(eager=False)
        )
        du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
        dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
        # Below the broadcast bound the node-sized degree table rides a
        # BroadcastExchange into BOTH orientation attaches (round 10):
        # the static-compiled plan otherwise exchanged the EDGE list by
        # u and again by v just to look up two degrees. Driver-memory
        # class is the kcore note's (<= 2m node rows at the gate).
        # Above the bound the attach shuffles.
        if m_edges <= int(broadcast_edge_bound):
            du, dv = F.broadcast(du), F.broadcast(dv)
        lower_first = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        o = (
            e0.join(du, "u")
            .join(dv, "v")
            .select(
                F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
                F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
                F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
            )
            .localCheckpoint(eager=False)
        )
        # Out-neighbor arrays sorted in ORIENTATION order (degree, id) —
        # each O(sqrt(m)) by orientation. Each triangle x<y<z (orientation
        # order) is found exactly once: on its lowest-mid edge (x, y), as
        # z ∈ A(x) ∩ A(y). Checkpointed because both the posexplode pass
        # and the t-side attach consume it.
        if enc:
            # long-encoded (dt, t): same total order, cheaper sort and
            # collect than struct arrays; stays encoded through the
            # closure (see the gate note above)
            adj = (
                o.groupBy("s")
                .agg(
                    F.sort_array(
                        F.collect_list(F.expr("shiftleft(dt, 31) + t"))
                    ).alias("ns")
                )
                .localCheckpoint(eager=False)
            )
        else:
            adj = (
                o.groupBy("s")
                .agg(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("dt", "t"))),
                        lambda x: x["t"],
                    ).alias("ns")
                )
                .localCheckpoint(eager=False)
            )
        # Below the bound the adjacency table (~edge-list volume in total
        # array cells) broadcasts and the t-side attach is a map-side hash
        # lookup — nothing superlinear ever crosses the wire. Above it the
        # t-keyed shuffle plan stands: correct at any scale, AQE
        # skew-splits the attach of a celebrity sink node.
        bc = m_edges <= int(broadcast_edge_bound)
        a2 = adj.select(F.col("s").alias("__a2"), F.col("ns").alias("__ns_t"))
        if bc:
            a2 = F.broadcast(a2)
        # Each adjacency row regenerates its own oriented edges: position i
        # holds t = A(s)[i], and the only s-side candidates for closing
        # corners are the suffix AFTER i (everything ≤ t in orientation
        # order cannot be in A(t)) — so the suffix is cut in-row BEFORE
        # anything is shuffled.
        pairs = (
            adj.select("s", "ns", F.posexplode("ns").alias("__i", "t"))
            .select(
                "s",
                # decode the edge's t endpoint when ns is long-encoded
                (F.expr("t & 2147483647") if enc else F.col("t")).alias("t"),
                F.expr("slice(ns, __i + 2, size(ns))").alias("__ssuf"),
            )
            .join(a2, F.col("t") == F.col("__a2"), "left")
            .select(
                "s",
                "t",
                F.array_intersect(
                    F.col("__ssuf"),
                    F.coalesce(F.col("__ns_t"), F.expr("array()").cast("array<bigint>")),
                ).alias("__common"),
            )
        )
        # ONE pass over the per-edge results: s and t each take the edge's
        # triangle count, every closing corner z takes 1. (A 3-branch union
        # would re-execute the attach pipeline once per branch.)
        cnt = (
            pairs.select(
                F.explode(
                    F.concat(
                        F.array(
                            F.struct(
                                F.col("s").alias("node"),
                                F.size("__common").cast("long").alias("c"),
                            ),
                            F.struct(
                                F.col("t").alias("node"),
                                F.size("__common").cast("long").alias("c"),
                            ),
                        ),
                        F.transform(
                            "__common",
                            lambda z: F.struct(
                                (
                                    z.bitwiseAND(F.lit(2147483647))
                                    if enc
                                    else z
                                ).alias("node"),
                                F.lit(1).cast("long").alias("c"),
                            ),
                        ),
                    )
                ).alias("__x")
            )
            .select(F.col("__x.node").alias("node"), F.col("__x.c").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("n_triangles"))
        )
    finally:
        if _static is not None:
            _static.close()
    if m_edges <= int(broadcast_edge_bound):
        # the per-node count table is node-sized below the gate: a
        # broadcast attach keeps deg un-exchanged for the readout
        cnt = F.broadcast(cnt)
    return (
        deg.join(cnt, "node", "left")
        .select(
            "node",
            F.col("degree").cast("long").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("degree") > 1,
                F.expr(
                    f"(2 * coalesce(n_triangles, 0) * {coef_scale}) "
                    "div (degree * (degree - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("clustering_coef_e9"),
        )
    )


def kcore(
    edges: DataFrame,
    k: int = None,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    k_percentile: tuple = (25, 100),
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected simple graph —
    the crawl-graph pruning signal (nodes that survive k-core peeling
    sit in densely connected regions; spam farms and long chains peel
    away). Each round simultaneously removes every node whose current
    degree is below k; `rounds` is a fixed small count, so the result
    is the graph after `rounds` peels — a superset of the true k-core
    that converges to it (curation wants coarse pruning, and a fixed
    count is what lets an external engine replay every round as an
    unrolled CTE, the pagerank/LPA precedent).

    When `k` is None it is derived from the data as the exact type-1
    `k_percentile` quantile of the INITIAL degree distribution
    (integer ceil-rank over the distinct-degree cumsum — the winsorize
    pattern), so the same pruning pressure applies at any scale
    instead of a hand-picked constant that under-peels at 100x the
    data. The threshold stays a one-row broadcast — never collected,
    fixed across rounds.

    Scale: per round one degree aggregation (combinable groupBy) plus
    two semi-join filters of the edge list against the >=k survivor
    set — the same bounded per-iteration cost shape as
    connected_components' star rounds; lineage truncates per round via
    lazy checkpoints.

    Returns (node, degree): survivors after `rounds` peels with their
    residual degree.
    """
    e0 = (
        edges.select(
            F.least(F.col(src).cast("long"), F.col(dst).cast("long")).alias("a"),
            F.greatest(F.col(src).cast("long"), F.col(dst).cast("long")).alias("b"),
        )
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .where(F.col("a") < F.col("b"))
        .distinct()
    )
    e = (
        e0.select(F.col("a").alias("s"), F.col("b").alias("d"))
        .union(e0.select(F.col("b").alias("s"), F.col("a").alias("d")))
        .localCheckpoint(eager=True)
    )
    # Size the per-round shuffles to the MEASURED edge count (the
    # pagerank/LPA pattern): the peel rounds are I/O-light semi-joins,
    # so at session width their stages are mostly empty-task
    # scheduling overhead — and unlike the CPU-dense operators they
    # must not widen when the AQE coalesce floor shrinks. ~500k edges
    # per partition, clamped to the session default, restored on exit.
    spark = e.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    old_parts = spark.conf.get(conf_key)
    m = e.count()
    fit = max(1, min(int(old_parts), m // 500_000 + 1))
    # Broadcast fast path (the triangle_counts precedent, same measured
    # gate): below the edge bound the per-round survivor set (<= #nodes
    # <= 2m longs) broadcasts, so each peel is map-side over the
    # hash(s)-partitioned edge frame — the degree aggregate reuses the
    # partitioning (no exchange) and both semi-joins are
    # BroadcastHashJoin. 3 rounds x (1 degree exchange + 2 semi-join
    # shuffles) collapse into ONE upfront repartition; the round bodies
    # then compile statically (the pagerank/_static_rounds finding —
    # with zero exchanges per round AQE has only per-stage driver
    # round-trips to contribute). Above the bound the shuffle rounds
    # keep AQE for its runtime SMJ->SHJ conversion, unchanged.
    #
    # Driver-memory requirement (round 10, ADVICE): each peel round
    # broadcasts the survivor set — up to 2m node ids at the bound,
    # i.e. ~8M longs ≈ 256 MB as a built broadcast relation at the 4M
    # default, held on the driver AND every executor until GC across
    # `rounds` rounds. Size the driver accordingly (the bench runs
    # 24 g; check_oracle 12 g) or LOWER the bound on small drivers:
    # a default-1g driver calling kcore near the bound will OOM in the
    # broadcast build. The gate is on edges because the node count is
    # not known without an extra count barrier; 2m is the worst case.
    bc = m <= int(os.environ.get("XORQ_SPARK_KCORE_BC_EDGES", "4000000"))
    try:
        spark.conf.set(conf_key, str(fit))
        if bc:
            e = e.repartition(fit, "s").localCheckpoint(eager=True)
        return _kcore_body(e, k, rounds, k_percentile, bc=bc)
    finally:
        spark.conf.set(conf_key, old_parts)


def _kcore_body(e, k, rounds, k_percentile, bc=False):
    if k is not None:
        kdf = e.sparkSession.range(1).select(F.lit(int(k)).alias("__k"))
    else:
        from pyspark.sql import Window

        num, den = k_percentile
        deg0 = e.groupBy("s").agg(F.count(F.lit(1)).alias("__deg"))
        # distinct-degree histogram is tiny (<= max degree rows): the
        # single-partition cumsum window is over that, never the nodes
        hist = deg0.groupBy("__deg").agg(F.count(F.lit(1)).alias("__cnt"))
        n1 = deg0.agg(F.count(F.lit(1)).alias("__n"))
        w = Window.orderBy("__deg").rowsBetween(Window.unboundedPreceding, 0)
        kdf = (
            hist.withColumn("__cum", F.sum("__cnt").over(w))
            .crossJoin(F.broadcast(n1))
            .where(
                F.col("__cum")
                >= F.expr(f"(__n * {int(num)} + {int(den) - 1}) div {int(den)}")
            )
            .agg(F.min("__deg").alias("__k"))
        )
    kdf = kdf.localCheckpoint(eager=True)
    if bc:
        # Broadcast peels (gated on the measured edge bound by the
        # caller): each round's survivor set rides a BroadcastExchange
        # into two map-side semi-joins, the degree aggregate reuses
        # e's hash(s) partitioning, and the bodies compile statically
        # — ONE job chain, zero per-round shuffles. The two identical
        # broadcast subtrees dedup via ReuseExchange.
        with _static_rounds(e.sparkSession):
            for _ in range(rounds):
                keep = (
                    e.groupBy("s")
                    .agg(F.count(F.lit(1)).alias("__deg"))
                    .crossJoin(F.broadcast(kdf))
                    .where(F.col("__deg") >= F.col("__k"))
                    .select(F.col("s").alias("__keep"))
                )
                e = (
                    e.join(
                        F.broadcast(keep),
                        F.col("s") == F.col("__keep"),
                        "left_semi",
                    )
                    .join(
                        F.broadcast(keep),
                        F.col("d") == F.col("__keep"),
                        "left_semi",
                    )
                    .localCheckpoint(eager=False)
                )
        return (
            e.groupBy("s")
            .agg(F.count(F.lit(1)).alias("degree"))
            .select(
                F.col("s").alias("node"),
                F.col("degree").cast("long").alias("degree"),
            )
        )
    # NOTE: kcore's shuffle-path peel rounds deliberately KEEP AQE
    # (unlike the pagerank/LPA _static_rounds treatment): the semi-join
    # peels rely on AQE's runtime sort-merge -> shuffled-hash
    # conversion, and the static planner's MAX-size stats for
    # checkpointed frames force SortMergeJoin — measured 12% slower
    # (interleaved A/B 1.92 vs 2.16 s with static rounds).
    for _ in range(rounds):
        keep = (
            e.groupBy("s")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .crossJoin(F.broadcast(kdf))
            .where(F.col("__deg") >= F.col("__k"))
            .select(F.col("s").alias("__keep"))
        )
        e = (
            e.join(keep, F.col("s") == F.col("__keep"), "left_semi")
            .join(keep, F.col("d") == F.col("__keep"), "left_semi")
            .localCheckpoint(eager=False)
        )
    return (
        e.groupBy("s")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("s").alias("node"), F.col("degree").cast("long").alias("degree"))
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 3,
    directed: bool = False,
) -> DataFrame:
    """Multi-source BFS hop distances — the reachability / crawl-depth
    primitive (how many link hops from a trusted seed set is each
    page?). Returns (node, hops) for every node reachable within
    ``max_hops`` of any seed (seeds themselves at hops=0).

    Integer-exact by construction (hop counts are small ints), so an
    external engine certifies every frontier expansion bit-for-bit via
    the same unrolled recurrence.

    Scale (100 TB graph): each round joins ONLY the current frontier
    (rows discovered last round) against the edge list — one shuffle
    keyed on src — then a min-combinable groupBy folds new candidates
    into the distance frame. Frontier-only joins keep round cost
    proportional to the expanding wave, not the whole visited set;
    per-round lazy localCheckpoint truncates lineage exactly as
    pagerank/label_propagation do.

    ``seeds``: a one-column DataFrame of node ids (any column name).
    """
    if directed:
        e0 = (
            edges.select(
                F.col(src).cast("long").alias("src"),
                F.col(dst).cast("long").alias("dst"),
            )
            .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
    else:
        # canonicalize-then-mirror: one distinct instead of two (the
        # label_propagation rewrite; identical symmetric closure)
        c = (
            edges.select(
                F.least(F.col(src).cast("long"), F.col(dst).cast("long")).alias("a"),
                F.greatest(F.col(src).cast("long"), F.col(dst).cast("long")).alias("b"),
            )
            .where(F.col("a").isNotNull() & (F.col("a") < F.col("b")))
            .distinct()
        )
        e0 = c.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
            c.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
    e = e0.localCheckpoint(eager=True)
    dist = (
        seeds.select(F.col(seeds.columns[0]).cast("long").alias("node"))
        .where(F.col("node").isNotNull())
        .distinct()
        .select("node", F.lit(0).cast("long").alias("hops"))
        .localCheckpoint(eager=True)
    )
    # measured-size shuffle width, the pagerank pattern
    spark = edges.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    old_parts = spark.conf.get(conf_key)
    fit = max(1, min(int(old_parts), e.count() // 500_000 + 1))
    try:
        spark.conf.set(conf_key, str(fit))
        for k in range(1, max_hops + 1):
            frontier = dist.where(F.col("hops") == k - 1)
            cand = (
                e.join(
                    frontier.withColumnRenamed("node", "__f"),
                    F.col("src") == F.col("__f"),
                )
                .select(F.col("dst").alias("node"), F.lit(k).cast("long").alias("hops"))
            )
            dist = (
                dist.union(cand)
                .groupBy("node")
                .agg(F.min("hops").alias("hops"))
                .localCheckpoint(eager=False)
            )
    finally:
        spark.conf.set(conf_key, old_parts)
    return dist


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
    scale: int = DEFAULT_SCALE,
) -> DataFrame:
    """Integer-exact HITS (hubs & authorities) over a directed edge
    list — the link-graph signal that separates *directories* (hubs:
    pages linking to many good authorities) from *content* (authorities:
    pages linked from many good hubs); the complement to pagerank's
    single authority score for crawl curation.

    Recurrence (all int64 / DECIMAL(38,0) arithmetic, mirrored by the
    SQL oracle; L1 normalization so no float sqrt enters):

        h0(u)  = scale DIV n
        a_k(v) = sum over edges u->v of h_{k-1}(u), then
                 a_k(v) <- (a_k(v) * scale) DIV sum(a_k)   [DECIMAL(38,0)]
        h_k(u) = sum over edges u->v of a_k(v), then L1-normalize same way

    Returns (node, hub_scaled, auth_scaled) in units of 1/scale.

    Scale: each half-iteration is one edges⋈scores shuffle + one
    combinable groupBy; the normalizer is a single-row aggregate
    broadcast back (never collected). The widened multiply runs in
    DECIMAL(38,0) (sum <= scale * max_degree, times scale — exceeds
    int64, fits decimal128 exactly on both engines)."""
    if iterations < 1:
        # auth is only defined after the first half-iteration; the
        # final nodes⋈auth join would crash on auth=None.
        raise ValueError(f"hits() requires iterations >= 1, got {iterations}")
    e = (
        edges.select(
            F.col(src).cast("long").alias("src"),
            F.col(dst).cast("long").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("hub_scaled"),
            F.lit(0).cast("long").alias("auth_scaled"),
        )
    spark = edges.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    old_parts = spark.conf.get(conf_key)
    fit = max(1, min(int(old_parts), e.count() // 500_000 + 1))

    def _l1_normalize(scores, col):
        # guard __tot = 0/NULL (degenerate half-iteration, e.g. all-zero
        # scores under ANSI-off) — emit 0 instead of NULL-propagating.
        tot = scores.agg(F.sum(col).cast("decimal(38,0)").alias("__tot"))
        return scores.crossJoin(F.broadcast(tot)).select(
            "node",
            F.expr(
                f"CASE WHEN __tot IS NULL OR __tot = 0 THEN CAST(0 AS BIGINT) "
                f"ELSE CAST((CAST({col} AS DECIMAL(38,0)) * {scale}) DIV __tot AS BIGINT) END"
            ).alias(col),
        )

    hub = nodes.select("node", F.lit(scale // n).cast("long").alias("h"))
    auth = None
    try:
        spark.conf.set(conf_key, str(fit))
        for _ in range(iterations):
            raw_a = (
                e.join(hub.withColumnRenamed("node", "__u"), F.col("src") == F.col("__u"))
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("h").cast("long").alias("a"))
            )
            auth = _l1_normalize(raw_a, "a").localCheckpoint(eager=False)
            raw_h = (
                e.join(auth.withColumnRenamed("node", "__v"), F.col("dst") == F.col("__v"))
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum("a").cast("long").alias("h"))
            )
            hub = _l1_normalize(raw_h, "h").localCheckpoint(eager=False)
    finally:
        spark.conf.set(conf_key, old_parts)
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("hub_scaled"),
            F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("auth_scaled"),
        )
    )


def link_prediction(
    edges: DataFrame,
    min_common: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Common-neighbor / Jaccard link prediction over an undirected
    edge list (src < dst canonical): score NON-adjacent node pairs by
    their neighborhood overlap — the classic recommender /
    graph-completion primitive (Liben-Nowell & Kleinberg 2003).

    For every 2-path a-s-b, the wedge center s contributes one common
    neighbor to the candidate pair (a, b); candidates below
    ``min_common`` shared neighbors are dropped BEFORE the degree join
    (the support threshold is what bounds the wedge explosion — same
    discipline as triangle_counts), existing edges are anti-joined
    away, and jaccard_ppm = cn * 1e6 div (deg_a + deg_b - cn) exactly.

    Scale: wedge generation is one groupBy(center) with an array-side
    per-neighborhood pair HOF (no self-join shuffle); candidate count
    is sum(d_s^2) bounded — for skew-heavy graphs, cap or sample
    super-node neighborhoods upstream. Degrees broadcast-join back.
    """
    # canonical distinct once (the label_propagation rewrite): the
    # mirrored halves are disjoint, and the SAME pinned frame serves
    # the und adjacency AND the existing-edge anti-join below — three
    # distinct exchanges collapse to one.
    canon = (
        edges.select(
            F.least(F.col(src).cast("long"), F.col(dst).cast("long")).alias("a"),
            F.greatest(F.col(src).cast("long"), F.col(dst).cast("long")).alias("b"),
        )
        .where(F.col("a").isNotNull() & (F.col("a") < F.col("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    und = canon.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        canon.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    adj = und.groupBy(F.col("src").alias("s")).agg(
        F.sort_array(F.collect_set("dst")).alias("ns")
    )
    wedges = adj.select(
        F.explode(
            F.expr(
                "flatten(transform(ns, (x, i) ->"
                " transform(slice(ns, i + 2, size(ns)), y ->"
                " struct(x AS a, y AS b))))"
            )
        ).alias("w")
    ).select("w.a", "w.b")
    cand = (
        wedges.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
        .where(F.col("cn") >= int(min_common))
    )
    nonadj = cand.join(canon, ["a", "b"], "left_anti")
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    return (
        nonadj.join(deg.withColumnRenamed("node", "a")
                    .withColumnRenamed("deg", "deg_a"), "a")
        .join(deg.withColumnRenamed("node", "b")
              .withColumnRenamed("deg", "deg_b"), "b")
        .select(
            "a", "b", "cn", "deg_a", "deg_b",
            F.expr(
                "CAST(cn * 1000000 div (deg_a + deg_b - cn) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


def random_walks(
    edges: DataFrame,
    n_steps: int = 4,
    seed: str = "rw0",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic uniform random walks over an undirected edge list
    — the DeepWalk/node2vec corpus-sampling primitive, with every
    "random" choice a PURE md5 FUNCTION of (seed, start, step,
    current): rerun/engine-stable, so an external engine can replay
    every step (the bootstrap/DP-noise convention applied to graph
    sampling). One walk starts at every node; at each step the next
    hop indexes into the SORTED neighbor array by
    md5(seed|start|step|cur) % degree.

    Scale: adjacency is one groupBy (sorted arrays); each step is one
    equi-join of the walk frontier against it — n_steps joins total,
    frontier never exceeds #nodes rows. Super-node arrays should be
    capped upstream for true scale-free graphs.

    Returns (start, step, node): step 0 is the start itself.
    """
    # canonical distinct once (the label_propagation rewrite), and pin
    # the adjacency: every step's join re-read it — n_steps consumers.
    c = (
        edges.select(
            F.least(F.col(src).cast("long"), F.col(dst).cast("long")).alias("a"),
            F.greatest(F.col(src).cast("long"), F.col(dst).cast("long")).alias("b"),
        )
        .where(F.col("a").isNotNull() & (F.col("a") < F.col("b")))
        .distinct()
    )
    und = c.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        c.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    adj = und.groupBy(F.col("src").alias("node")).agg(
        F.sort_array(F.collect_set("dst")).alias("ns")
    ).localCheckpoint(eager=False)
    walk = adj.select(
        F.col("node").alias("start"),
        F.lit(0).alias("step"),
        F.col("node"),
    )
    out = walk
    cur = walk
    for s in range(1, int(n_steps) + 1):
        cur = (
            cur.join(adj, "node")
            .select(
                "start",
                F.lit(s).alias("step"),
                F.element_at(
                    "ns",
                    (
                        F.expr(
                            f"CAST(conv(substring(md5(concat('{seed}|',"
                            f" CAST(start AS STRING), '|', {s}, '|',"
                            f" CAST(node AS STRING))), 1, 8), 16, 10)"
                            f" AS BIGINT)"
                        )
                        % F.size("ns")
                        + 1
                    ).cast("int"),
                ).alias("node"),
            )
        )
        out = out.unionByName(cur)
    return out
