"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the whole point of these):
- Exact dedup groups on md5(text), never on the raw text — shuffle keys
  are 32 bytes regardless of document size.
- MinHash signatures/bands are computed scan-side with JVM lambdas (no
  Python), so the only shuffle is the band-bucket self-join, whose keys
  are 32-byte digests.
- Hot LSH buckets (boilerplate shingles shared by millions of docs) are
  capped with `max_bucket_size` — the standard skew guard: a bucket
  bigger than the cap contributes O(cap^2) candidate pairs instead of
  O(n^2).
- Candidate pairs are verified with exact Jaccard only for the
  candidates, never all-pairs.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from xorq_spark.operators.partitioning import fitted_shuffle


def let(value: Column, body) -> Column:
    """Let-binding for Spark SQL lambdas: evaluate `value` once and bind
    it as a lambda variable for `body`.

    Catalyst does not hoist loop-invariant subexpressions out of HOF
    lambda bodies — `transform(seq(0,15), i -> f(expensive_expr))`
    recomputes `expensive_expr` 16x per row. `transform(array(v), x ->
    body(x))[1]` computes it exactly once."""
    return F.element_at(F.transform(F.array(value), body), 1)


def normalize_text(text: Column) -> Column:
    """Lowercase, strip non-word punctuation, collapse whitespace."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text), r"[^\w\s一-鿿]", " "), r"\s+", " "
        )
    )


def shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles of the normalized text, as an array<string>.
    Documents shorter than k words produce a single whole-doc shingle."""
    return let(
        F.split(normalize_text(text), " "),
        lambda words: F.when(
            F.size(words) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - k + 1),
                lambda i: F.array_join(F.slice(words, i, k), " "),
            ),
        ).otherwise(F.array(F.array_join(words, " "))),
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Keep one representative (min id) per distinct (normalized) text.

    Groups on md5 digests so the shuffle moves 32-byte keys, not
    documents; the winner is re-joined back to recover full rows."""
    key = F.md5(normalize_text(F.col(text_col)) if normalize else F.col(text_col))
    # Key ONCE into a digest-only pinned frame: the winner aggregate
    # and the membership probe both consumed `keyed`, so the
    # normalize+md5 pass (regex chain + ICU lower — the dominant
    # per-row cost) ran twice over the corpus, and the plan carried
    # text into both subtrees. The pinned frame is (id, 32-byte
    # digest); survivors re-attach to the source rows by id — text is
    # never keyed twice and never shuffled (guide §2.3: decide on a
    # lightweight proxy, move payloads once).
    keyed = df.select(F.col(id_col), key.alias("__dk")).localCheckpoint(
        eager=True
    )
    winners = keyed.groupBy("__dk").agg(F.min(id_col).alias(id_col))
    keep = keyed.join(winners, ["__dk", id_col], "left_semi").select(id_col)
    return df.join(keep, id_col, "left_semi")


# Mersenne prime 2^31-1: universal-hash modulus. a*h+b stays < 2^62,
# inside signed-64 range on both engines.
MINHASH_P = 2147483647
_MINHASH_MULT = 2654435761  # Knuth multiplicative constant
_MINHASH_ADD = 40503


def minhash_from_shingles(sh: Column, num_hashes: int = 16) -> Column:
    """MinHash signature as array<bigint>[num_hashes].

    Each shingle is hashed ONCE (first 8 md5 hex chars -> 32-bit int),
    then the `num_hashes` signature slots are universal-hash
    permutations (a_i*h + b_i) mod p over that base hash — 1 md5 per
    shingle instead of num_hashes md5s (16x less hashing; the
    permutations are integer multiply-mod, whole-stage-codegen'd).
    Both the base hash and the permutation are portable SQL, so the
    DuckDB oracle computes bit-identical signatures."""
    def perm(i: Column, h: Column) -> Column:
        a = (F.lit(_MINHASH_MULT) * (i + 1)) % MINHASH_P
        b = (F.lit(_MINHASH_ADD) * (i + 1)) % MINHASH_P
        return (a * h + b) % MINHASH_P

    return let(
        F.transform(
            sh,
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")
            % MINHASH_P,
        ),
        lambda hs: F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda i: F.array_min(F.transform(hs, lambda h: perm(i, h))),
        ),
    )


def minhash_signature(text: Column, num_hashes: int = 16, k: int = 3) -> Column:
    """MinHash signature as array<bigint>[num_hashes] (see
    minhash_from_shingles for the hash scheme)."""
    return minhash_from_shingles(shingles(text, k), num_hashes)


def lsh_band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Split the signature into `bands` bands of `rows_per_band` and
    digest each band -> array<string>[bands]. Band keys are md5 of the
    '|'-joined slot values, so shuffle keys stay 32 bytes however wide
    the band is."""
    def band_key(band: Column) -> Column:
        # A null slot means content-free input (null/absent text). The
        # key must be NULL — never md5("") — or every null document
        # lands in one bucket and pairs with every other (SQL NULL
        # never equals NULL, so null keys drop out of the band join;
        # matches DuckDB's array_to_string NULL propagation).
        joined = F.array_join(F.transform(band, lambda x: x.cast("string")), "|")
        return F.when(
            F.exists(band, lambda x: x.isNull()), F.lit(None).cast("string")
        ).otherwise(F.md5(joined))

    return let(
        signature,
        lambda sig: F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: band_key(F.slice(sig, b * rows_per_band + 1, rows_per_band)),
        ),
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two string arrays (as sets)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _lsh_candidate_pairs(
    sets: DataFrame,
    num_hashes: int,
    bands: int,
    rows_per_band: int,
    max_bucket_size: Optional[int],
) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs from MinHash banding over
    a (__id, __sh) frame. Bucket-local pair generation: ONE shuffle on
    (band, 32-byte key) collects each bucket's ids; i<j pairs are
    generated JVM-side from the sorted array. The bucket cap is a
    size() filter on the same aggregate, dropping oversized boilerplate
    buckets before they can emit O(n^2) candidates. Null band keys
    (content-free docs) drop out in the groupBy the same way they fail
    an equi-join."""
    banded = sets.select(
        "__id",
        F.posexplode(
            lsh_band_keys(
                minhash_from_shingles(F.col("__sh"), num_hashes), bands, rows_per_band
            )
        ).alias("__band", "__bkey"),
    )
    buckets = banded.filter(F.col("__bkey").isNotNull()).groupBy(
        "__band", "__bkey"
    ).agg(F.array_sort(F.collect_list("__id")).alias("__ids"))
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("__ids") <= max_bucket_size)
    return (
        buckets.filter(F.size("__ids") >= 2)
        .select(
            F.explode(
                let(
                    F.col("__ids"),
                    lambda ids: F.flatten(
                        F.transform(
                            F.sequence(F.lit(1), F.size(ids) - 1),
                            lambda i: F.transform(
                                F.slice(ids, i + 1, F.size(ids) - i),
                                lambda j: F.struct(
                                    F.element_at(ids, i).alias("id_a"),
                                    j.alias("id_b"),
                                ),
                            ),
                        )
                    ),
                )
            ).alias("__p")
        )
        .select("__p.id_a", "__p.id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.7,
    max_bucket_size: Optional[int] = 1000,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with exact
    Jaccard over shingle sets. Returns (id_a, id_b, jaccard_sim) with
    id_a < id_b.

    Pipeline: shingle -> minhash -> band -> explode bands -> self-join on
    (band_idx, band_key) -> distinct candidate (id, id) pairs -> join the
    shingle sets back in -> Jaccard verify.

    Scale notes: the band join and the pair-distinct shuffle carry ONLY
    (id, band, 32-byte digest) rows — never shingle arrays. Shingle sets
    re-enter via two id-keyed joins for the (much smaller) verified
    candidate set. The text is scanned twice (signature pass + verify
    pass); at scale that beats shuffling per-doc shingle arrays 2x
    through the band join."""
    rows_per_band = num_hashes // bands
    # Shingling + hashing is compute-bound, not IO-bound: a small parquet
    # file scans as ONE input split, which would serialize the whole
    # signature pass on a single core. Spread rows across the cluster
    # first — the shuffle moves raw text once, far cheaper than
    # single-threading the hash work. (At real scale, many files already
    # give parallel splits and this repartition is a cheap rebalance.)
    from xorq_spark.operators.partitioning import widen as _widen

    # Materialize the shingle-set frame ONCE (lazy checkpoint): the
    # banding pass and BOTH verify joins consume it — without the pin
    # each of the three re-scans the corpus and re-runs the
    # shingle+distinct pipeline (guide §2.4). The band join still
    # carries only (id, band, digest) rows; at cluster scale persist
    # this frame MEMORY_AND_DISK instead.
    sets = _widen(df).select(
        F.col(id_col).alias("__id"),
        F.array_distinct(shingles(F.col(text_col), k)).alias("__sh"),
    ).localCheckpoint(eager=False)
    # Signature over the distinct shingle set == over the raw multiset
    # (min is duplicate-insensitive), so one definition serves both.
    cand = _lsh_candidate_pairs(sets, num_hashes, bands, rows_per_band, max_bucket_size)
    return (
        cand.join(
            sets.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a")),
            "id_a",
        )
        .join(
            sets.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b")),
            "id_b",
        )
        .withColumn("jaccard_sim", jaccard(F.col("__sh_a"), F.col("__sh_b")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", F.round("jaccard_sim", 9).alias("jaccard_sim"))
    )


def minhash_lsh_eval(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    threshold: tuple = (1, 5),
    max_bucket_size: Optional[int] = 1000,
) -> DataFrame:
    """Recall/precision of the MinHash-LSH candidate generator against
    exact Jaccard ground truth — the go/no-go metric that decides
    (num_hashes, bands) before trusting the approximate index on the
    full corpus, mirroring what sim_ann_lsh_recall does for the ANN
    tier.

    Both arms run distributed: ground truth is the exact inverted
    shingle index (every pair with jaccard >= num/den, integer-rational
    test), candidates are the banding pipeline shared with
    minhash_lsh_pairs. Because every LSH hit (candidate passing the
    threshold) is by definition a true pair, three counts suffice — no
    pair-level join:

        recall    = n_hit / n_true      (banding missed 1-recall of dups)
        precision = n_hit / n_cand      (1-precision of verify work wasted)

    Returns ONE row (n_true, n_cand, n_hit, precision_e9, recall_e9)
    with the ratios as exact integer 1e9-scaled divisions.

    Scale: run on a deterministic hash SAMPLE of the corpus (the
    sampling tier provides one); ground truth is quadratic per shared
    shingle, which is affordable on a sample and is the whole point —
    measure on 0.1% before committing the 100 TB pass."""
    num, den = threshold
    if not (0 < num <= den):
        raise ValueError("threshold must be a rational in (0, 1]")
    rows_per_band = num_hashes // bands
    from xorq_spark.operators.partitioning import widen as _widen

    sets = _widen(df).select(
        F.col(id_col).alias("__id"),
        F.array_distinct(shingles(F.col(text_col), k)).alias("__sh"),
    )
    base = sets.withColumn("__n", F.size("__sh"))
    # Ground truth: exact inverted index, integer threshold test.
    inv = base.select(
        "__id", "__n", F.explode("__sh").alias("__s")
    ).withColumn("__s", F.md5("__s"))
    a = inv.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na"), "__s")
    b = inv.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb"), "__s")
    true_pairs = (
        a.join(b, "__s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "__na", "__nb")
        .agg(F.count("*").alias("__shared"))
        .filter(
            F.col("__shared") * den
            >= (F.col("__na") + F.col("__nb") - F.col("__shared")) * num
        )
    )
    t_stats = true_pairs.agg(F.count("*").alias("n_true"))
    # Candidate arm: the shared banding pipeline, then exact verify.
    cand = _lsh_candidate_pairs(sets, num_hashes, bands, rows_per_band, max_bucket_size)
    verified = (
        cand.join(
            base.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sa"),
                        F.col("__n").alias("__na")),
            "id_a",
        )
        .join(
            base.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sb"),
                        F.col("__n").alias("__nb")),
            "id_b",
        )
        .withColumn("__shared", F.size(F.array_intersect("__sa", "__sb")))
        .withColumn(
            "__hit",
            (
                F.col("__shared") * den
                >= (F.col("__na") + F.col("__nb") - F.col("__shared")) * num
            ).cast("long"),
        )
    )
    c_stats = verified.agg(
        F.count("*").alias("n_cand"),
        F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_hit"),
    )
    return (
        t_stats.crossJoin(c_stats)
        .withColumn(
            "precision_e9",
            F.when(F.col("n_cand") == 0, F.lit(0).cast("long")).otherwise(
                F.expr("n_hit * 1000000000 div n_cand")
            ),
        )
        .withColumn(
            "recall_e9",
            F.when(F.col("n_true") == 0, F.lit(0).cast("long")).otherwise(
                F.expr("n_hit * 1000000000 div n_true")
            ),
        )
        .select("n_true", "n_cand", "n_hit", "precision_e9", "recall_e9")
    )


def _token_hash32(tok: Column) -> Column:
    """Portable 32-bit token hash: first 8 hex chars of md5 -> bigint."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint")


def simhash(text: Column, bits: int = 32) -> Column:
    """SimHash over whitespace tokens: per-bit majority vote of 32-bit
    token hashes, folded JVM-side.

    acc[b] += (token_hash >> b) & 1 ? 1 : -1; bit b of the result is set
    iff acc[b] > 0. Hamming-near simhashes => near-duplicate texts."""
    toks = F.filter(F.split(normalize_text(text), " "), lambda x: x != "")
    hashes = F.transform(toks, _token_hash32)

    # F.shiftright/shiftleft require literal bit counts; with a lambda-
    # bound bit index we use pow-based bit math (exact: values < 2^53).
    def _bit(h, b):
        return (h / F.pow(F.lit(2.0), b)).cast("long").bitwiseAND(F.lit(1))

    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda b: F.when(_bit(h, b) == 1, 1).otherwise(-1).cast("long"),
            ),
            lambda a, v: a + v,
        ),
    )
    folded = F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, b: F.when(v > 0, F.pow(F.lit(2.0), b).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # Null text folds to null; define it as 0 — identical to an empty
    # document (no tokens -> no set bits), so null and "" near-dup.
    return F.coalesce(folded, F.lit(0).cast("long"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two int64 hashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    partition_cols: Optional[Sequence[str]] = None,
    _ppm: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard dedup via an inverted shingle index: explode
    shingles, self-join on the shingle digest, count shared shingles per
    pair, Jaccard = shared / (|A| + |B| - shared).

    Unlike MinHash this is exact but quadratic in docs-per-shingle;
    `partition_cols` (e.g. language) bounds the join, which is how
    exact-Jaccard stays feasible at scale."""
    parts = list(partition_cols or [])
    base = df.select(
        *parts,
        F.col(id_col).alias("__id"),
        F.array_distinct(shingles(F.col(text_col), k)).alias("__sh"),
    ).withColumn("__n", F.size("__sh"))
    inv = base.select(
        *parts, "__id", "__n", F.explode("__sh").alias("__s")
    ).withColumn("__s", F.md5("__s"))
    a = inv.select(*parts, F.col("__id").alias("id_a"), F.col("__n").alias("__na"), "__s")
    b = inv.select(*parts, F.col("__id").alias("id_b"), F.col("__n").alias("__nb"), "__s")
    shared = (
        a.join(b, parts + ["__s"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "__na", "__nb")
        .agg(F.count("*").alias("__shared"))
    )
    if _ppm:
        # integer ppm variant (floor division — the engine-exact form
        # the threshold-sweep report certifies); no threshold filter
        return shared.select(
            "id_a", "id_b",
            F.expr(
                "CAST(__shared * 1000000"
                " div (__na + __nb - __shared) AS BIGINT)"
            ).alias("j_ppm"),
        )
    jac = F.col("__shared") / (F.col("__na") + F.col("__nb") - F.col("__shared"))
    return (
        shared.withColumn("jaccard_sim", F.round(jac, 9))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def ngram_jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: tuple = (1, 5),
    partition_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Prefix-filtered exact set-similarity join (Vernica/Carey/Li,
    SIGMOD 2010 MapReduce set-similarity; PPJoin prefix principle) —
    the scale path for exact Jaccard that `ngram_jaccard_pairs`'s full
    inverted index lacks.

    The full index joins every doc pair sharing ANY shingle — at 100 TB
    a boilerplate shingle shared by millions of docs makes that bucket
    quadratic. Prefix filtering indexes only each doc's RAREST
    p = n - ceil(t*n) + 1 shingles (global-frequency order): any pair
    with Jaccard >= t must share a prefix token, so candidates shrink
    from pairs-sharing-anything to pairs-sharing-a-rare-token, and the
    hot boilerplate tokens fall OUT of the index entirely (they sort
    last). A length filter (den*min(n) >= num*max(n)) prunes further
    before verification; survivors are verified exactly with one
    array_intersect over the two full shingle sets — no second
    inverted-index pass.

    threshold is an exact integer rational (num, den); the candidate
    guarantee, length filter, prefix length and final test
    (shared*den >= num*(na+nb-shared)) are all integer arithmetic.
    Output is IDENTICAL to ngram_jaccard_pairs at the same threshold —
    (id_a, id_b, jaccard_sim) — so the brute-force oracle certifies
    that the filter loses no pair.
    """
    num, den = threshold
    if not (0 < num <= den):
        raise ValueError("threshold must be a rational in (0, 1]")
    parts = list(partition_cols or [])
    base = df.select(
        *parts,
        F.col(id_col).alias("__id"),
        F.transform(
            F.array_distinct(shingles(F.col(text_col), k)), F.md5
        ).alias("__sh"),
    ).withColumn("__n", F.size("__sh"))
    inv = base.select(*parts, "__id", "__n", F.explode("__sh").alias("__s"))
    # Global document frequency of each shingle digest — the canonical
    # ascending-frequency total order (ties broken by digest). Bounded
    # by distinct shingles; stays a shuffle join (never collected).
    freq = inv.groupBy("__s").agg(F.count("*").alias("__df"))
    # Per-doc shingle list sorted rarest-first; prefix keeps the first
    # n - ceil(num*n/den) + 1 entries.
    ordered = (
        inv.join(freq, "__s")
        .groupBy(*parts, "__id", "__n")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("__s")))
            ).alias("__arr")
        )
        .withColumn(
            "__plen",
            F.col("__n")
            - F.expr(f"(__n * {num} + {den} - 1) div {den}")
            + 1,
        )
        .withColumn(
            "__prefix",
            F.slice(F.transform("__arr", lambda x: x["__s"]), 1, F.col("__plen")),
        )
    )
    pa = ordered.select(
        *parts,
        F.col("__id").alias("id_a"),
        F.col("__n").alias("__na"),
        F.explode("__prefix").alias("__s"),
    )
    pb = ordered.select(
        *parts,
        F.col("__id").alias("id_b"),
        F.col("__n").alias("__nb"),
        F.explode("__prefix").alias("__s"),
    )
    cand = (
        pa.join(pb, parts + ["__s"])
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter: jaccard >= num/den forces den*min >= num*max
        .filter(
            F.least("__na", "__nb") * den >= F.greatest("__na", "__nb") * num
        )
        .select(*parts, "id_a", "id_b", "__na", "__nb")
        .distinct()
    )
    sets = base.select(*parts, "__id", F.col("__sh").alias("__set"))
    verified = (
        cand.join(
            sets.select(*parts, F.col("__id").alias("id_a"), F.col("__set").alias("__sa")),
            parts + ["id_a"],
        )
        .join(
            sets.select(*parts, F.col("__id").alias("id_b"), F.col("__set").alias("__sb")),
            parts + ["id_b"],
        )
        .withColumn("__shared", F.size(F.array_intersect("__sa", "__sb")))
        .filter(
            F.col("__shared") * den
            >= (F.col("__na") + F.col("__nb") - F.col("__shared")) * num
        )
    )
    jac = F.col("__shared") / (F.col("__na") + F.col("__nb") - F.col("__shared"))
    return verified.select(
        "id_a", "id_b", F.round(jac, 9).alias("jaccard_sim")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: tuple = (80, 100),
    partition_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Asymmetric n-gram containment — quote/subset detection, the
    signal symmetric Jaccard misses: a short doc pasted inside a long
    one has low Jaccard (union is huge) but containment(short in long)
    = |A∩B|/|A| near 1. The standard dedup matrix runs BOTH: Jaccard
    for near-twins, containment for excerpts/quotations/boilerplate
    envelopes.

    Same inverted shingle index and single digest-keyed shuffle as
    ngram_jaccard_pairs (`partition_cols` bounds the quadratic term);
    the containment test is exact INTEGER arithmetic —
    shared * den >= num * |A| — so the engine-replay never touches a
    float. Emits one row per ordered pair where the smaller-id side is
    contained in the other at >= threshold=(num, den), with both
    containment directions as scaled integers.

    Returns (id_a, id_b, n_shared, n_a, n_b, contain_a_e9,
    contain_b_e9) with id_a < id_b and contain_x_e9 =
    shared*1e9 DIV |X|.
    """
    num, den = threshold
    parts = list(partition_cols or [])
    base = df.select(
        *parts,
        F.col(id_col).alias("__id"),
        F.array_distinct(shingles(F.col(text_col), k)).alias("__sh"),
    ).withColumn("__n", F.size("__sh"))
    inv = base.select(
        *parts, "__id", "__n", F.explode("__sh").alias("__s")
    ).withColumn("__s", F.md5("__s"))
    a = inv.select(*parts, F.col("__id").alias("id_a"), F.col("__n").alias("__na"), "__s")
    b = inv.select(*parts, F.col("__id").alias("id_b"), F.col("__n").alias("__nb"), "__s")
    shared = (
        a.join(b, parts + ["__s"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "__na", "__nb")
        .agg(F.count("*").alias("__shared"))
    )
    return (
        shared.filter(
            (F.col("__shared") * den >= F.col("__na") * num)
            | (F.col("__shared") * den >= F.col("__nb") * num)
        )
        .select(
            "id_a",
            "id_b",
            F.col("__shared").cast("long").alias("n_shared"),
            F.col("__na").cast("long").alias("n_a"),
            F.col("__nb").cast("long").alias("n_b"),
            F.expr("(__shared * 1000000000) div __na").cast("long").alias("contain_a_e9"),
            F.expr("(__shared * 1000000000) div __nb").cast("long").alias("contain_b_e9"),
        )
    )


def _symmetrize(e: DataFrame) -> DataFrame:
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(e: DataFrame) -> DataFrame:
    # For each node u: m = min(N(u) ∪ {u}); connect every strictly-larger
    # neighbor to m. One shuffle (groupBy u) + one broadcast-or-shuffle
    # join back on u.
    nbrs = _symmetrize(e)
    mins = nbrs.groupBy("u").agg(F.min("v").alias("__mn"))
    mins = mins.select("u", F.least(F.col("__mn"), F.col("u")).alias("m"))
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    # Orient every edge toward its smaller endpoint, then for each node u
    # connect u and all its (smaller) neighbors to the minimum neighbor.
    oriented = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nb = oriented.join(mins, "u")
    return (
        nb.select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select(F.col("u").alias("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
    small_graph_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components of the undirected graph given as an edge
    list. Returns (node, component) where component = min node id in the
    node's component; every endpoint of an edge appears exactly once.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    standard shuffle-based CC that converges in O(log^2 n) rounds
    REGARDLESS of graph diameter (naive label propagation needs
    O(diameter) rounds, pathological for chain-shaped near-dup clusters).

    Scale notes: each round is two groupBy-shuffles keyed on node ids —
    no adjacency lists ever collect to the driver. Per-round
    `localCheckpoint(eager=True)` truncates the lineage so the plan does
    not grow exponentially with iterations (on a real cluster prefer
    `spark.sparkContext.setCheckpointDir` + `checkpoint()`, which
    survives executor loss; local mode has no such failure domain).
    Convergence is detected by an edge-set signature (count + xxhash64
    XOR — order-independent and overflow-free under ANSI mode, unlike a
    sum of full-range int64 hashes), one tiny agg per round.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    spark = edges.sparkSession

    def edge_sig(df):
        return tuple(
            df.agg(
                F.count("*").alias("n"),
                F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
            ).first()
        )

    # Signature of the INPUT edge set: sizes round 0's shuffles and
    # lets an already-star-shaped input exit after one confirming
    # round (fixpoint test: star(e) == e, sig-compared).
    e = e.localCheckpoint(eager=True)
    prev_sig = edge_sig(e)
    # Measured-size fast path (the same adaptivity as an AQE
    # broadcast decision): a near-dup pair graph is typically
    # orders of magnitude smaller than the corpus, and each star
    # round costs ~6 scheduled stages. Under the bound (~16 bytes/
    # edge driver memory; 2M edges ~= 32 MB) a single bounded
    # collect + union-find replaces O(log^2 n) distributed rounds.
    # Above it, the star algorithm proceeds untouched.
    if prev_sig[0] <= small_graph_threshold:
        return _cc_driver_side(spark, e)
    for _ in range(max_iterations):
        # Each star round is ~6 shuffle stages, sized from the last
        # signature's edge count at ~500k edges per partition; the
        # round's eager checkpoint and its signature run in the scope.
        with fitted_shuffle(spark, prev_sig[0], 500_000):
            e = _small_star(_large_star(e)).localCheckpoint(eager=True)
            sig = edge_sig(e)
        if sig == prev_sig:
            break
        prev_sig = sig
    # Fixpoint is a forest of depth-1 stars (child -> min root).
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def _cc_driver_side(spark, e: DataFrame) -> DataFrame:
    """Union-find over a bounded collected edge list; same output
    contract as the distributed path (component = min node id).

    Memory discipline: the edges arrive via Arrow into PRIMITIVE pandas
    columns (int64 ids: ~16 bytes/edge — 2M edges ~= 32 MB), never as
    Python Row objects (whose per-object overhead is 10-20x and would
    OOM a default-sized driver at the same threshold). Ids are
    factorized to dense int codes so the union-find itself runs over
    one numpy int64 array regardless of id type."""
    import numpy as np
    import pandas as pd

    utype = dict(e.dtypes)["u"]
    pdf = e.select("u", "v").toPandas()
    if pdf.empty:
        return spark.createDataFrame([], f"node {utype}, component {utype}")
    codes, uniques = pd.factorize(
        pd.concat([pdf["u"], pdf["v"]], ignore_index=True), sort=False
    )
    n_edges = len(pdf)
    uu, vv = codes[:n_edges], codes[n_edges:]
    parent = np.arange(len(uniques), dtype=np.int64)

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(uu.tolist(), vv.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots = np.fromiter(
        (find(i) for i in range(len(uniques))), dtype=np.int64, count=len(uniques)
    )
    vals = pd.Series(np.asarray(uniques))
    comp = vals.groupby(roots).transform("min")
    out = pd.DataFrame({"node": vals, "component": comp})
    return spark.createDataFrame(out, f"node {utype}, component {utype}")


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 32,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: (id_a, id_b, hamming) with
    hamming(simhash_a, simhash_b) <= max_hamming, id_a < id_b.

    Candidate generation uses the pigeonhole banding trick: split the
    `bits`-bit simhash into `bands` contiguous bands; two hashes within
    Hamming distance `max_hamming` < `bands` must agree EXACTLY on at
    least one band, so an equi-join per band finds every true pair
    without an all-pairs cross join. The join keys are (band_index,
    band_value) — small ints, one shuffle — and candidates are verified
    with the exact bit_count(xor) distance.

    Empty/null docs all simhash to 0 and would pair quadratically; they
    are dropped before banding (content-free docs are exact dupes, a job
    for exact_dedup, not a similarity metric).
    """
    assert bits % bands == 0, "bands must divide bits"
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    sh = df.select(
        F.col(id_col).alias("__id"), simhash(F.col(text_col), bits).alias("__sh")
    ).filter(F.col("__sh") != 0)
    # bands is a Python int, so the band array is unrolled here rather
    # than with a sequence+transform lambda (F.shiftright requires a
    # literal shift amount).
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("__sh"), b * band_bits)
            .bitwiseAND(F.lit(mask))
            .alias("bval"),
        )
        for b in range(bands)
    ]
    banded = sh.select(
        "__id", "__sh", F.explode(F.array(*band_structs)).alias("__b")
    ).select("__id", "__sh", "__b.band", "__b.bval")
    a = banded.select(
        "band", "bval", F.col("__id").alias("id_a"), F.col("__sh").alias("__sa")
    )
    b = banded.select(
        "band", "bval", F.col("__id").alias("id_b"), F.col("__sh").alias("__sb")
    )
    return (
        a.join(b, ["band", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64(F.col("__sa"), F.col("__sb")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 8,
    bucket_join: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity.

    bucket_join=True: random-hyperplane LSH — vectors agreeing on all
    `num_planes` sign bits land in one bucket; cosine verified within
    buckets only (misses some pairs, which is the LSH recall/cost trade).
    bucket_join=False: exact all-pairs (for oracles / small inputs).
    """
    from xorq_spark.functions.similarity import cosine_similarity, _lsh_bucket

    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    if bucket_join:
        base = base.withColumn("__bucket", _lsh_bucket(F.col("__v"), num_planes))
        cond = ["__bucket"]
    else:
        base = base.withColumn("__bucket", F.lit(0))
        cond = ["__bucket"]
    a = base.select(*cond, F.col("__id").alias("id_a"), F.col("__v").alias("__va"))
    b = base.select(*cond, F.col("__id").alias("id_b"), F.col("__v").alias("__vb"))
    return (
        a.join(b, cond)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(cosine_similarity(F.col("__va"), F.col("__vb")), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = 2000,
    keep: str = "min_id",
) -> DataFrame:
    """One-call near-duplicate removal: MinHash-LSH candidate pairs ->
    Jaccard-verified edges -> connected components -> keep one
    canonical document per cluster. Returns the surviving rows of `df`
    unchanged — the composition every curation pipeline writes by hand
    (examples/dedup_documents.py does it stepwise).

    keep='min_id' keeps the lowest id (stable default);
    keep='longest' keeps the LONGEST text per cluster (ties to lowest
    id) — C4's rule, on the theory the longest variant carries the
    most content. Integer keys both ways: deterministic everywhere.

    Scale: inherits the banded-LSH / star-CC designs of its parts; the
    final keep is one left-anti join on the id column against the
    (small) non-canonical node set (for 'longest', one extra bounded
    length lookup join + a component-keyed max).
    """
    if keep not in ("min_id", "longest"):
        raise ValueError(f"keep must be min_id|longest, got {keep!r}")
    pairs = minhash_lsh_pairs(
        df, text_col, id_col,
        num_hashes=num_hashes, bands=bands, k=k,
        threshold=threshold, max_bucket_size=max_bucket_size,
    )
    comps = connected_components(pairs, "id_a", "id_b")
    if keep == "min_id":
        losers = comps.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_col)
        )
    else:
        lens = df.select(
            F.col(id_col).alias("node"),
            F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("__len"),
        )
        ranked = comps.join(lens, "node")
        # winner per component: max (len, -id) — longest, ties to the
        # LOWEST id (negate id inside the lexicographic struct max)
        winners = ranked.groupBy("component").agg(
            F.max(
                F.struct(
                    F.col("__len"), (-F.col("node")).alias("__nid")
                )
            ).alias("m")
        ).select((-F.col("m.__nid")).alias("__winner"))
        losers = ranked.join(
            winners, ranked["node"] == winners["__winner"], "left_anti"
        ).select(F.col("node").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs: int = 1,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level line deduplication (CCNet-style boilerplate scrub,
    reference parity: this is a training-pipeline op beyond the
    reference's relational surface): drop every line whose trimmed text
    occurs in more than `max_docs` DISTINCT documents (nav bars, cookie
    banners, licence headers), then reassemble each document with its
    surviving lines in original order.

    Returns (id_col, text_deduped, n_lines, n_kept_lines) — one row per
    input document, empty string when nothing survives.

    Scale design: lines shuffle keyed by a 16-byte md5 digest, never
    by line text. Per-line doc-frequency is a combinable two-level
    aggregate (count DISTINCT docs per digest: map-side partials bound
    any one digest's reduce input to one row per upstream task) whose
    over-threshold survivors join back onto the line stream as a
    digest-keyed membership flag. The join — unlike the
    count-over-Window.partitionBy(digest) it replaced in round 6 — is
    AQE-skew-splittable: a cookie-banner line occurring in 100M
    documents used to land in ONE sort-based window task (a
    disk-spilling straggler AQE cannot split); as a join probe it
    splits across tasks at runtime. Reassembly is one groupBy on the
    document id.
    """
    import re as _re

    # split() takes a REGEX; sep is a literal separator (splitting on
    # '|' or '.' must not explode every character)
    # (no pre-explode rebalance here: per-line md5 is ~100x cheaper
    # than stride-1 gram hashing and the extra shuffle measured as a
    # net loss at sf0.1 — 0.9s -> 1.5s warm)
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias(
            "__pos", "__line"
        ),
    ).where(F.trim(F.col("__line")) != "")
    # materialize the keyed line stream ONCE (nb_classify pattern): the
    # doc-frequency aggregate and the membership-join probe both read
    # it, and recomputing the split+explode+md5 per consumer measured
    # ~2x the whole operator at sf0.1
    keyed = lines.withColumn(
        "__key", F.md5(F.trim(F.col("__line")))
    ).localCheckpoint(eager=True)
    # boilerplate digests: distinct-doc frequency > max_docs. The
    # distinct aggregate plans as (key, doc) partial dedup -> combinable
    # per-key count — both exchanges carry digests only, never text.
    boiler = (
        keyed.groupBy("__key")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .where(F.col("__df") > max_docs)
        .select("__key", F.lit(True).alias("__boiler"))
    )
    flagged = keyed.join(boiler, "__key", "left").withColumn(
        "__keep", F.col("__boiler").isNull()
    )
    per_doc = flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__keep"), F.struct("__pos", "__line"))
                    )
                ),
                lambda s: s["__line"],
            ),
            sep,
        ).alias("text_deduped"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("__keep").cast("long")).alias("n_kept_lines"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("n_kept_lines", F.lit(0)).alias("n_kept_lines"),
        )
    )


def dup_ngram_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document fraction of its distinct word n-grams that also
    occur in at least one OTHER document — the corpus-overlap signal of
    Lee et al.'s "Deduplicating Training Data Makes Language Models
    Better" (the fuzzy tier between exact dedup and MinHash): documents
    scoring high are mostly stitched-together duplicated content even
    when no single whole-document match exists.

    Returns (id_col, n_grams, n_dup_grams, dup_fraction).

    Scale design: per-document DISTINCT shingles first (array_distinct
    inside the row — no shuffle), so each document contributes one row
    per distinct gram and the doc-frequency is a plain combinable count
    per digest (map-side partials bound a hot gram's reduce input to
    one row per upstream task). Grams occurring in 2+ docs join back
    onto the gram stream as a digest-keyed membership flag — a join is
    AQE-skew-splittable where the count-over-Window.partitionBy(digest)
    it replaced in round 6 put every copy of a hot boilerplate gram in
    ONE window task. The final roll-up is one groupBy on the document
    id.
    """
    grams = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("__gram"),
    ).select(F.col(id_col), F.md5(F.col("__gram")).alias("__key"))
    # a NULL gram (null/empty text) carries no dedup signal; it would
    # otherwise form one phantom frequency group.
    # Materialize the digest stream ONCE (lazy checkpoint): the
    # doc-frequency aggregate and the membership join both consume it —
    # without the pin each re-runs shingle+md5 over the corpus
    # (guide §2.4; the line_dedup keyed-stream precedent).
    grams = grams.where(F.col("__key").isNotNull()).localCheckpoint(
        eager=False
    )
    # per-doc distinct upstream means count(*) per digest == doc count
    dup = (
        grams.groupBy("__key")
        .agg(F.count(F.lit(1)).alias("__n_docs"))
        .where(F.col("__n_docs") > 1)
        .select("__key", F.lit(True).alias("__dup"))
    )
    with_freq = grams.join(dup, "__key", "left")
    per_doc = (
        with_freq
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("__dup").isNotNull().cast("long")).alias("n_dup_grams"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.round(
                F.coalesce("n_dup_grams", F.lit(0))
                / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1)),
                9,
            ).alias("dup_fraction"),
        )
    )


def shingle_digests(text: Column, k: int = 3) -> Column:
    """32-bit digests of the document's distinct shingle set — the
    compact verification payload an incremental dedup index persists
    instead of text (the Jaccard of digest sets equals the Jaccard of
    shingle sets up to negligible 32-bit collisions, and digests are
    engine-portable: md5-prefix ints, same formula as the MinHash base
    hash)."""
    return F.array_distinct(
        F.transform(
            shingles(text, k),
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")
            % MINHASH_P,
        )
    )


def build_dedup_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> tuple:
    """The persistable near-dup index of a corpus: returns
    (bands_df, digests_df) where bands_df = (id, band, band_key) —
    32-byte LSH bucket keys — and digests_df = (id, digests) — the
    compact shingle-digest sets for exact Jaccard verification.

    This is what a repeated-crawl pipeline stores between runs (parquet
    partitioned by band, bucketed by band_key at real scale): the index
    is orders of magnitude smaller than the corpus, and matching a new
    batch against it never touches old document text."""
    rows_per_band = num_hashes // bands
    sig = minhash_signature(F.col(text_col), num_hashes, k)
    base = df.select(
        F.col(id_col),
        lsh_band_keys(sig, bands, rows_per_band).alias("__keys"),
        shingle_digests(F.col(text_col), k).alias("digests"),
    )
    bands_df = base.select(
        id_col, F.posexplode("__keys").alias("band", "band_key")
    ).where(F.col("band_key").isNotNull())
    return bands_df, base.select(id_col, "digests")


def dedup_incremental(
    new_docs: DataFrame,
    index_bands: DataFrame,
    index_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dedup: match a NEW batch of documents against a
    previously-built corpus index (build_dedup_index) without touching
    the historical corpus itself — the production shape of dedup under
    repeated crawls, where re-running all-corpus LSH per batch would be
    quadratic over time.

    Returns one row per new document: (id, n_candidates, max_sim,
    is_dup) — is_dup when some indexed document's verified digest
    Jaccard reaches `threshold`; survivors (~is_dup) get indexed by the
    caller via build_dedup_index and appended for the next batch.

    Scale design: the batch's band keys join the index on (band,
    32-byte key) — candidates only, never all-pairs, AQE splitting hot
    boilerplate buckets; verification joins ship the compact digest
    arrays for candidate pairs only; one final per-new-doc rollup.
    """
    nb, nd = build_dedup_index(
        new_docs, text_col, id_col, num_hashes, bands, k
    )
    old_b = index_bands.select(
        F.col(id_col).alias("__old_id"), "band", "band_key"
    )
    cand = (
        nb.join(old_b, ["band", "band_key"])
        .select(F.col(id_col), "__old_id")
        .distinct()
    )
    sims = (
        cand.join(nd, id_col)
        .join(
            index_digests.select(
                F.col(id_col).alias("__old_id"),
                F.col("digests").alias("__old_digests"),
            ),
            "__old_id",
        )
        .withColumn("__sim", jaccard(F.col("digests"), F.col("__old_digests")))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.max("__sim").alias("__max_sim"),
        )
    )
    return (
        new_docs.select(id_col)
        .join(sims, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.round(F.coalesce("__max_sim", F.lit(0.0)), 9).alias("max_sim"),
            (F.round(F.coalesce("__max_sim", F.lit(0.0)), 9) >= threshold).alias(
                "is_dup"
            ),
        )
    )


def dup_span_detect(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 64,
    stride: int = 16,
    anchor_k: int = 8,
) -> DataFrame:
    """Long verbatim-duplicate detection at CHARACTER granularity: the
    scalable approximation of Lee et al.'s exact-substring dedup (their
    suffix-array pass removes >=50-char verbatim repeats). Word-level
    n-gram fractions (dup_ngram_fraction) miss long verbatim passages
    that differ only at tokenization edges — this catches them.

    Span starts are CONTENT-DEFINED (winnowing/CDC-style): a position p
    anchors a `span`-char window iff the hash of its `anchor_k`-char
    prefix is ≡ 0 mod `stride` (expected one anchor per `stride`
    chars). A fixed-grid stride is phase-sensitive — the same passage
    at different offsets in two documents never aligns — while content
    anchors land at the SAME positions inside any shared run, so a
    duplicated passage of length >= span + O(stride) chars produces
    identical windows in both documents with overwhelming probability.

    Returns (id_col, n_spans, n_dup_spans, dup_span_fraction).
    Documents shorter than `span` chars have no spans.

    Scale design: anchor hashing is scan-side JVM work (one 8-char md5
    per position); windows shuffle ONCE as md5 digests (16-byte keys —
    raw text never leaves the scan), cross-document frequency is a
    window over that single exchange (distinct-per-doc first, so a
    self-repeating document does not inflate its own doc-frequency),
    and the roll-up is one groupBy on the id. Cross-document frequency
    is a combinable groupBy(digest) aggregate joined back on the digest
    (both AQE-skew-splittable), NOT collect_set over a digest-keyed
    window — a boilerplate span occurring in 100M docs would land its
    entire id set in one window task.
    """
    text = F.col(text_col)
    length = F.coalesce(F.length(text), F.lit(0))
    all_pos = F.when(
        length >= span, F.sequence(F.lit(0), length - span)
    ).otherwise(F.array().cast("array<int>"))
    anchors = F.filter(
        all_pos,
        lambda p: F.conv(
            F.substring(F.md5(F.substring(text, p + 1, anchor_k)), 1, 8), 16, 10
        ).cast("long")
        % stride
        == 0,
    )
    spans = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(anchors, lambda p: F.substring(text, p + 1, span))
            )
        ).alias("__span"),
    ).select(F.col(id_col), F.md5(F.col("__span")).alias("__key"))
    freq = spans.groupBy("__key").agg(
        F.countDistinct(F.col(id_col)).alias("__docs")
    )
    flagged = spans.join(freq, "__key")
    per_doc = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("__docs") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_spans"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.round(
                F.coalesce("n_dup_spans", F.lit(0))
                / F.greatest(F.coalesce("n_spans", F.lit(0)), F.lit(1)),
                9,
            ).alias("dup_span_fraction"),
        )
    )


def fuzzy_match_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: Column = None,
    max_distance: int = 2,
    symmetric: bool = False,
) -> DataFrame:
    """Record linkage / entity resolution by edit distance with
    blocking — the structured-data sibling of the text near-dedup
    tier: candidate pairs come from an EQUI-join on a blocking key
    (default: the value's last whitespace word — surname/noun-style
    blocking), then exact Levenshtein verification keeps pairs within
    `max_distance`. Returns (id_a, id_b, distance) with id_a < id_b
    (or both directions when `symmetric`, for per-record summaries).

    Levenshtein is an integer DP — bit-identical across engines, so
    linkage decisions are fully certifiable.

    Scale: the classic blocking shape — the shuffle is keyed on the
    block value and carries (id, string); quadratic work is confined
    to each block (choose the key so blocks stay bounded, exactly the
    LSH-bucket contract). Never all-pairs."""
    if block_col is None:
        block_col = F.coalesce(
            F.element_at(F.split(F.col(text_col), r"\s+"), -1), F.lit("")
        )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("t"),
        block_col.alias("blk"),
    )
    a, b = base.alias("a"), base.alias("b")
    cond = (F.col("a.blk") == F.col("b.blk")) & (
        (F.col("a.id") != F.col("b.id"))
        if symmetric
        else (F.col("a.id") < F.col("b.id"))
    )
    d = F.levenshtein(F.col("a.t"), F.col("b.t"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            d.alias("distance"),
        )
        .where(F.col("distance") <= max_distance)
    )


def exact_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_len: int = 40,
    min_dup: int = 2,
) -> DataFrame:
    """Exact duplicated-substring spans (the removal half of Lee et
    al. 2022's ExactSubstr dedup): every maximal character range of a
    document that is covered by >=`gram_len`-char substrings occurring
    `min_dup`+ times in the corpus (across documents OR repeated within
    one). `dup_span_detect` answers "is this document contaminated by
    verbatim repeats" with sampled content-defined anchors; this is the
    stride-1 exact pass that answers "which exact bytes do I cut" — its
    spans feed `strip_spans` to rewrite the corpus.

    Stride-1 positions make detection exact for any duplicate of
    length >= gram_len: a shared run of length R >= gram_len yields
    R - gram_len + 1 identical grams in both copies, and the merged
    span reconstructs the full run (plus nothing — a position is
    flagged only if the gram STARTING there is duplicated, so the span
    end max(i) + gram_len is exactly the end of the shared run).

    Scale design: grams leave the scan as 16-byte md5-prefix digests
    (the raw text never shuffles); duplication is a combinable count
    per digest (map-side partials bound a hot gram's reduce input to
    one row per upstream task) whose >=min_dup survivors attach back
    via a digest-keyed LEFT SEMI join — AQE-skew-splittable, unlike
    the count-over-Window.partitionBy(digest) it replaced in round 6,
    where a boilerplate 40-gram occurring 100M times serialized into
    ONE window task. Span merging is the classic gaps-and-islands pair
    — prefix-max of i+gram_len then a prefix-sum of new-span markers —
    both over one (doc, position) sort. All exchanges are digest- or
    doc-keyed fixed-width rows, volume ~ total corpus characters — the
    same order as the suffix-array construction it replaces, but
    embarrassingly partitioned.

    Returns (id_col, span_id, span_start, span_end, span_chars) —
    1-based start, exclusive end, ordered positions unique per doc.
    """
    from pyspark.sql import Window

    L = int(gram_len)
    # Stride-1 gram hashing is compute-bound with a ~charcount/doc
    # expansion: a small parquet file scans as ONE split and would
    # single-thread the md5 work (the minhash_signatures precedent) —
    # rebalance the raw docs first (measured: checkpoint write 2.3s ->
    # 0.4s at sf0.1; at real scale many input splits make this a
    # no-op-cost rebalance).
    from xorq_spark.operators.partitioning import widen as _widen

    base = _widen(df.where(
        F.col(text_col).isNotNull() & (F.length(text_col) >= L)
    ))
    # explode the position range FIRST, hash per exploded row: building
    # a transform() array of (i, digest) structs and exploding it
    # materializes the whole per-doc gram array — measured 11x slower
    # (2.66s vs 0.24s per pass at sf0.1) than hashing inside the
    # codegen'd projection after a primitive-int explode
    # Materialize the gram stream ONCE (the nb_classify persist-before-
    # multi-pass pattern): both the duplication count and the semi-join
    # probe consume it, and recomputing the explode+md5 pipeline per
    # consumer measured 5.2s vs 1.1s for the whole count+join at sf0.1
    # (the generator-fed hash aggregate alone was 3.0s; over the
    # checkpointed columnar stream the identical plan is ~0.3s). Cost:
    # one executor-local write of ~32 bytes/char — linear, spillable,
    # and it buys a single scan of the raw text.
    g = (
        base.select(
            F.col(id_col),
            F.col(text_col),
            F.explode(
                F.sequence(F.lit(1), F.length(text_col) - L + 1)
            ).alias("__i"),
        )
        .select(
            F.col(id_col),
            F.col("__i").cast("long").alias("i"),
            F.expr(
                f"substr(md5(substring({text_col}, __i, {L})), 1, 16)"
            ).alias("dig"),
        )
        .localCheckpoint(eager=True)
    )
    dupkeys = (
        g.groupBy("dig")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= int(min_dup))
        .select("dig")
    )
    # shuffle-hash, not sort-merge: the probe stream (~corpus chars)
    # must not sort, and the build side (duplicated digests) hash-fits
    # per partition. AQE skew-split applies to shuffled-hash joins, so
    # a hot boilerplate digest splits across tasks at runtime (the
    # count-over-Window.partitionBy(dig) this replaced serialized it
    # into ONE sort-based task).
    dup = g.join(dupkeys.hint("shuffle_hash"), "dig", "semi")
    wd = Window.partitionBy(id_col).orderBy("i")
    prev_end = F.max(F.col("i") + L).over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup.withColumn(
        "__nw",
        F.when(prev_end.isNull() | (F.col("i") > prev_end), 1).otherwise(0),
    ).withColumn(
        "span_id",
        F.sum("__nw").over(
            wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        marked.groupBy(id_col, "span_id")
        .agg(
            F.min("i").alias("span_start"),
            (F.max("i") + L).alias("span_end"),
        )
        .select(
            id_col,
            F.col("span_id").cast("long").alias("span_id"),
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start"))
            .cast("long")
            .alias("span_chars"),
        )
    )


def strip_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rewrite the corpus with duplicated spans removed: cut every
    [span_start, span_end) range of `spans` (1-based, exclusive end —
    `exact_substring_spans` output) out of each document's text.
    Documents with no spans pass through unchanged.

    One groupBy collapses each doc's spans to a sorted array (spans
    are disjoint by construction), one left join attaches it, and the
    cut is a single JVM-side aggregate() fold over the array — no
    Python, no per-span joins, text touched exactly once.

    Returns the input columns with `text_col` rewritten plus
    n_cut_spans / n_cut_chars.
    """
    sp = (
        spans.groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("span_start", "span_end"))
            ).alias("__spans")
        )
    )
    joined = df.join(sp, id_col, "left")
    cut = F.expr(
        f"""CASE WHEN __spans IS NULL THEN {text_col} ELSE
        concat(
          aggregate(__spans,
            struct(CAST(1 AS BIGINT) AS pos, CAST('' AS STRING) AS out),
            (acc, s) -> struct(
              CAST(s.span_end AS BIGINT) AS pos,
              concat(acc.out,
                     substring({text_col}, CAST(acc.pos AS INT),
                               CAST(s.span_start - acc.pos AS INT))) AS out)
          ).out,
          substring({text_col},
                    CAST(aggregate(__spans, CAST(1 AS BIGINT),
                         (p, s) -> CAST(s.span_end AS BIGINT)) AS INT),
                    length({text_col})))
        END"""
    )
    out_cols = [
        cut.alias(c) if c == text_col else F.col(c) for c in df.columns
    ]
    return joined.select(
        *out_cols,
        F.coalesce(F.size("__spans"), F.lit(0))
        .cast("long")
        .alias("n_cut_spans"),
        F.coalesce(
            F.aggregate(
                "__spans",
                F.lit(0).cast("long"),
                lambda a, s: a + (s["span_end"] - s["span_start"]),
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_cut_chars"),
    )


def lsh_banding_plan(
    spark,
    n_hashes: int = 128,
    threshold_ppm: int = 800_000,
    steps: int = 200,
) -> DataFrame:
    """MinHash-LSH banding planner (Leskovec/Rajaraman/Ullman ch.3):
    for every (bands b, rows r) factorization of ``n_hashes``, integrate
    the collision curve P(s) = 1 - (1 - s^r)^b against the target
    Jaccard ``threshold`` to get the planner's objective —
    false-positive mass below the threshold (candidate pairs the
    verifier must reject) plus false-negative mass above it (true
    duplicates the index misses) — and flag the factorization that
    minimizes it. The sweep every practitioner does by rule of thumb
    ((1/b)^(1/r) ≈ t), done exactly.

    Determinism (oracle-replayable): the integral is a midpoint
    quadrature at s_i = (2i+1)/(2*steps); each P(s_i) is ONE double
    tree built from exp/ln (the bm25 idf precedent for cross-engine
    transcendentals), quantized to e9 BIGINT per term, then summed as
    integers — order-free, so any engine reproduces the exact bits.
    threshold is passed in ppm to keep the API integer-exact.

    Scale: the frame is #divisors(n) x steps rows (a few thousand) —
    pure planning metadata; the plan feeds minhash_signatures/lsh_pairs
    parameters, the corpus never participates.

    Returns (bands, rows_per_band, threshold_star_e9, fp_e9, fn_e9,
    cost_e9, is_best), one row per factorization."""
    if n_hashes < 2 or n_hashes > 4096:
        raise ValueError("n_hashes must be in [2, 4096]")
    divisors = [b for b in range(1, n_hashes + 1) if n_hashes % b == 0]
    t = threshold_ppm / 1e6
    from xorq_spark.operators.localframe import lit_table

    base = lit_table(
        spark,
        [(b, n_hashes // b) for b in divisors],
        "bands int, rows_per_band int",
    )
    k2 = 2 * steps
    # P(s) = 1 - exp(b * ln(1 - exp(r * ln(s)))): explicit exp/ln so an
    # external engine's pow() rounding can never diverge from the JVM's
    p_expr = (
        "1.0d - exp(cast(bands as double) * ln(1.0d - "
        "exp(cast(rows_per_band as double) * ln(s))))"
    )
    terms = (
        base.select(
            "bands",
            "rows_per_band",
            F.explode(F.sequence(F.lit(0), F.lit(steps - 1))).alias("__i"),
        )
        .withColumn(
            "s",
            (2 * F.col("__i") + 1).cast("double") / F.lit(float(k2)),
        )
        .withColumn("__p_e9", F.round(F.expr(p_expr) * 1e9, 0).cast("long"))
    )
    agg = terms.groupBy("bands", "rows_per_band").agg(
        F.sum(F.when(F.col("s") < F.lit(t), F.col("__p_e9"))).alias("__fp"),
        F.sum(
            F.when(F.col("s") >= F.lit(t), F.lit(10**9) - F.col("__p_e9"))
        ).alias("__fn"),
    )
    scored = agg.select(
        "bands",
        "rows_per_band",
        F.round(
            F.expr(
                "exp(ln(1.0d / cast(bands as double))"
                " / cast(rows_per_band as double))"
            )
            * 1e9,
            0,
        ).cast("long").alias("threshold_star_e9"),
        # midpoint rule: integral ~ mean of the term values. INTEGER
        # division (div), never cast(double): Spark's double->long cast
        # truncates while DuckDB's rounds — the known cross-engine trap
        F.expr(f"cast(coalesce(__fp, 0) div {steps} as bigint)").alias(
            "fp_e9"
        ),
        F.expr(f"cast(coalesce(__fn, 0) div {steps} as bigint)").alias(
            "fn_e9"
        ),
    ).withColumn("cost_e9", (F.col("fp_e9") + F.col("fn_e9")).cast("long"))
    best = scored.agg(
        F.min(F.struct("cost_e9", "bands")).alias("__m")
    )
    return (
        scored.join(F.broadcast(best))
        .select(
            "bands",
            "rows_per_band",
            "threshold_star_e9",
            "fp_e9",
            "fn_e9",
            "cost_e9",
            (
                (F.col("cost_e9") == F.col("__m.cost_e9"))
                & (F.col("bands") == F.col("__m.bands"))
            ).alias("is_best"),
        )
    )
