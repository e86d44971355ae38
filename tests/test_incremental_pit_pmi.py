"""point_in_time_join / refresh_aggregate / pmi_collocations unit tests:
hand-computed cases, boundary semantics, group-birth/death paths, and a
Python reference replay for PMI lift."""

import datetime as dt

import pyspark.sql.functions as F
import pytest


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _pit(spark, facts, dim):
    from xorq_spark.functions.timeseries import point_in_time_join

    f = spark.createDataFrame(facts, "k long, fid long, ts timestamp")
    d = spark.createDataFrame(
        dim, "k long, attr string, valid_from timestamp, valid_to timestamp"
    )
    out = point_in_time_join(f, d, keys=["k"], ts_col="ts")
    return {r["fid"]: r for r in out.collect()}


def test_pit_basic_versions_and_boundaries(spark):
    dim = [
        (1, "a", _ts("2024-01-01"), _ts("2024-02-01")),
        (1, "b", _ts("2024-02-01"), None),
    ]
    facts = [
        (1, 10, _ts("2023-12-31")),  # before first version -> NULL
        (1, 11, _ts("2024-01-01")),  # == valid_from -> inclusive, 'a'
        (1, 12, _ts("2024-01-15")),  # inside v1 -> 'a'
        (1, 13, _ts("2024-02-01")),  # boundary: half-open, 'b' not 'a'
        (1, 14, _ts("2024-06-01")),  # open-ended current -> 'b'
    ]
    out = _pit(spark, facts, dim)
    assert out[10]["dim_attr"] is None
    assert out[11]["dim_attr"] == "a"
    assert out[12]["dim_attr"] == "a"
    assert out[13]["dim_attr"] == "b"
    assert out[14]["dim_attr"] == "b"


def test_pit_gap_and_zero_duration(spark):
    dim = [
        # zero-duration version must never match, even at its instant
        (2, "z", _ts("2024-01-01"), _ts("2024-01-01")),
        (2, "a", _ts("2024-01-01"), _ts("2024-02-01")),
        # gap: nothing valid in [2024-02-01, 2024-03-01)
        (2, "c", _ts("2024-03-01"), None),
    ]
    facts = [
        (2, 20, _ts("2024-01-01")),  # 'a' (zero-duration 'z' skipped)
        (2, 21, _ts("2024-02-15")),  # in the gap -> NULL
        (2, 22, _ts("2024-03-02")),  # 'c'
    ]
    out = _pit(spark, facts, dim)
    assert out[20]["dim_attr"] == "a"
    assert out[21]["dim_attr"] is None
    assert out[22]["dim_attr"] == "c"


def test_pit_keys_do_not_cross(spark):
    dim = [(1, "a", _ts("2024-01-01"), None)]
    facts = [(1, 30, _ts("2024-06-01")), (9, 31, _ts("2024-06-01"))]
    out = _pit(spark, facts, dim)
    assert out[30]["dim_attr"] == "a"
    assert out[31]["dim_attr"] is None  # other key: no versions


def test_refresh_aggregate_maintains_born_and_dead_groups(spark):
    from xorq_spark.functions.reconcile import refresh_aggregate

    base = spark.createDataFrame(
        [(1, 2, 10.0), (2, 3, 30.0)],
        "k long, n_rows long, sum_x double",
    )
    # group 1: +1 row of x=4 -> n=3, sum=14
    # group 2: delete all 3 rows -> drops
    # group 3: born from delta with 2 rows
    changes = spark.createDataFrame(
        [
            (1, 4.0, 1),
            (2, 10.0, -1), (2, 10.0, -1), (2, 10.0, -1),
            (3, 5.0, 1), (3, 7.0, 1),
        ],
        "k long, x double, sign int",
    )
    out = {
        r["k"]: r
        for r in refresh_aggregate(
            base, changes, keys=["k"], measures=["x"]
        ).collect()
    }
    assert set(out) == {1, 3}
    assert out[1]["n_rows"] == 3 and out[1]["sum_x"] == 14.0
    assert out[3]["n_rows"] == 2 and out[3]["sum_x"] == 12.0


def test_refresh_aggregate_untouched_groups_pass_through(spark):
    from xorq_spark.functions.reconcile import refresh_aggregate

    base = spark.createDataFrame(
        [(7, 5, 100.0)], "k long, n_rows long, sum_x double"
    )
    changes = spark.createDataFrame([], "k long, x double, sign int")
    out = refresh_aggregate(base, changes, keys=["k"], measures=["x"]).collect()
    assert len(out) == 1
    assert out[0]["n_rows"] == 5 and out[0]["sum_x"] == 100.0


def test_pmi_collocations_matches_python_reference(spark):
    from xorq_spark.functions.text import pmi_collocations

    texts = [
        "new york new york city",
        "the big apple the big city",
        "new york is the city",
        "big apple big apple",
    ]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    out = {
        (r["w1"], r["w2"]): r
        for r in pmi_collocations(docs, min_count=2).collect()
    }

    toks = [t.split() for t in texts]
    uni, big = {}, {}
    for ws in toks:
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    n1 = sum(uni.values())
    n2 = sum(big.values())
    expected = {
        k: v for k, v in big.items() if v >= 2
    }
    assert set(out) == set(expected)
    for (a, b), c12 in expected.items():
        r = out[(a, b)]
        assert r["c12"] == c12 and r["c1"] == uni[a] and r["c2"] == uni[b]
        assert r["lift_scaled"] == (c12 * n1 * n1 * 10**6) // (
            n2 * uni[a] * uni[b]
        )


def test_pmi_single_token_docs_and_nulls(spark):
    from xorq_spark.functions.text import pmi_collocations

    docs = spark.createDataFrame(
        [("hello",), (None,), ("  ",), ("a b a b a b",)], "text string"
    )
    out = {
        (r["w1"], r["w2"]): r for r in pmi_collocations(docs, min_count=2).collect()
    }
    # bigrams: (a,b) x3, (b,a) x2; unigrams: hello 1, a 3, b 3 -> N1=7, N2=5
    assert out[("a", "b")]["c12"] == 3
    assert out[("b", "a")]["c12"] == 2
    assert out[("a", "b")]["lift_scaled"] == (3 * 7 * 7 * 10**6) // (5 * 3 * 3)


def _spans(spark, rows, L=10):
    from xorq_spark.functions.dedup import exact_substring_spans

    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = exact_substring_spans(df, gram_len=L)
    return sorted(
        (r["doc_id"], r["span_start"], r["span_end"]) for r in out.collect()
    )


def test_exact_substring_cross_doc_span(spark):
    shared = "ABCDEFGHIJKLMNOP"  # 16 chars, L=10 -> 7 grams each copy
    rows = [(1, "xx" + shared + "yy"), (2, "zzzzz" + shared)]
    got = _spans(spark, rows, L=10)
    # doc1: shared at pos 3..18 (1-based); doc2: at pos 6..21
    assert got == [(1, 3, 19), (2, 6, 22)]


def test_exact_substring_within_doc_repeat_and_merge(spark):
    blk = "0123456789"  # exactly L chars
    # block repeated back-to-back: grams inside the overlap dup too ->
    # one merged span covering both copies
    rows = [(5, "aa" + blk + blk + "bb")]
    got = _spans(spark, rows, L=10)
    assert got == [(5, 3, 23)]


def test_exact_substring_no_dups_no_rows(spark):
    rows = [(1, "abcdefghijklmnop"), (2, "ponmlkjihgfedcba")]
    assert _spans(spark, rows, L=10) == []


def test_strip_spans_rewrites_and_passthrough(spark):
    from xorq_spark.functions.dedup import (
        exact_substring_spans,
        strip_spans,
    )

    shared = "ABCDEFGHIJKLMNOP"
    df = spark.createDataFrame(
        [
            (1, "xx" + shared + "yy"),
            (2, "zzzzz" + shared),
            (3, "totally unique and short"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    spans = exact_substring_spans(df, gram_len=10)
    out = {r["doc_id"]: r for r in strip_spans(df, spans).collect()}
    assert out[1]["text"] == "xxyy" and out[1]["n_cut_chars"] == 16
    assert out[2]["text"] == "zzzzz" and out[2]["n_cut_spans"] == 1
    assert out[3]["text"] == "totally unique and short"
    assert out[3]["n_cut_spans"] == 0
    assert out[4]["text"] is None and out[4]["n_cut_chars"] == 0


def test_strip_spans_multiple_disjoint_spans(spark):
    from xorq_spark.functions.dedup import strip_spans

    df = spark.createDataFrame(
        [(1, "0123456789abcdefghij")], "doc_id long, text string"
    )
    spans = spark.createDataFrame(
        [(1, 1, 3, 6), (1, 2, 11, 14)],
        "doc_id long, span_id long, span_start long, span_end long",
    )
    out = strip_spans(df, spans).collect()[0]
    # cut [3,6) = "234" (pos 3,4,5) and [11,14) = "abc" (pos 11,12,13)
    assert out["text"] == "01" + "56789" + "defghij"
    assert out["n_cut_spans"] == 2 and out["n_cut_chars"] == 6


def test_quantile_calibrate_matches_python_reference(spark):
    from xorq_spark.functions.stats import quantile_calibrate

    # two sources with very different score ranges
    rows = [("a", i, i * 10) for i in range(1, 21)]  # scores 10..200
    rows += [("b", 100 + i, i) for i in range(1, 11)]  # scores 1..10
    df = spark.createDataFrame(rows, "src string, rid long, s long")
    out = {
        r["rid"]: r
        for r in quantile_calibrate(
            df, score_col="s", group_col="src", order_cols=("rid",), k=10
        ).collect()
    }

    # python reference: global type-1 grid, per-group percentiles
    all_scores = sorted(x[2] for x in rows)
    N = len(all_scores)
    k = 10

    def grid_value(g):
        t = -(-g * N // k)  # ceil
        return all_scores[t - 1]

    for src, n_g in (("a", 20), ("b", 10)):
        grp = sorted(
            [x for x in rows if x[0] == src], key=lambda x: (x[2], x[1])
        )
        for r_idx, (s2, rid, sc) in enumerate(grp, start=1):
            g = -(-r_idx * k // n_g)
            got = out[rid]
            assert got["pct_gridpoint"] == g
            assert got["calibrated"] == grid_value(g), (rid, g)


def test_quantile_calibrate_identical_groups_map_to_self(spark):
    from xorq_spark.functions.stats import quantile_calibrate

    # one group == global: top-of-each-grid-cell maps back to a value
    # <= its own cell ceiling, and the max row maps to the global max
    rows = [("x", i, i) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "src string, rid long, s long")
    out = {r["rid"]: r for r in quantile_calibrate(
        df, score_col="s", group_col="src", order_cols=("rid",), k=100
    ).collect()}
    # with k = N = 100 and distinct scores, calibration is the identity
    for i in range(1, 101):
        assert out[i]["calibrated"] == i


def test_mmr_rerank_matches_python_greedy(spark):
    import math

    from xorq_spark.functions.retrieval import mmr_rerank

    # 1 query, 5 candidates; doc 2 is a near-duplicate of doc 1
    vecs = {
        1: [1.0, 0.0, 0.0],
        2: [0.999, 0.01, 0.0],
        3: [0.0, 1.0, 0.0],
        4: [0.0, 0.0, 1.0],
        5: [0.5, 0.5, 0.0],
    }
    scores = {1: 100, 2: 95, 3: 60, 4: 50, 5: 55}
    cand = spark.createDataFrame(
        [(7, d, s) for d, s in scores.items()],
        "query_id int, doc_id long, score_nano long",
    )
    emb = spark.createDataFrame(
        [(d, v) for d, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["mmr_rank"]: r["doc_id"]
        for r in mmr_rerank(cand, emb, rounds=4).collect()
    }

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(
            sum(x * x for x in b)
        )
        return round(num / den, 6)

    sel, rest = [1], {2, 3, 4, 5}  # round 1: top relevance
    for _ in range(3):
        best = max(
            sorted(rest),
            key=lambda d: (
                round(
                    scores[d] / 100 - max(cos(vecs[d], vecs[s]) for s in sel),
                    6,
                ),
                -d,
            ),
        )
        sel.append(best)
        rest.discard(best)
    assert [out[r] for r in sorted(out)] == sel
    # the near-dup (doc 2) must NOT be picked second despite rel=0.95
    assert out[2] != 2


def test_plan_length_batches_order_and_waste(spark):
    from xorq_spark.functions.text import plan_length_batches

    # token counts via the BPE-ish regex: "w1 w2 ... wn" -> n tokens
    rows = [(i, " ".join(["tok"] * n)) for i, n in
            [(1, 10), (2, 9), (3, 8), (4, 1), (5, 1), (6, 2)]]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           plan_length_batches(df, batch_size=3).collect()}
    # desc order: 10,9,8 | 2,1,1  (ties by doc_id: 4 before 5)
    assert [out[d]["global_rank"] for d in (1, 2, 3, 6, 4, 5)] == [1, 2, 3, 4, 5, 6]
    assert out[1]["batch_id"] == 1 and out[6]["batch_id"] == 2
    # batch 1: max 10, sum 27 -> waste = (30-27)/30
    assert out[1]["batch_max_tokens"] == 10
    assert out[1]["batch_waste_ppm"] == (30 - 27) * 10**6 // 30
    # batch 2: max 2, sum 4 -> waste = (6-4)/6
    assert out[4]["batch_waste_ppm"] == (6 - 4) * 10**6 // 6


def test_ks_drift_matches_python_reference(spark):
    from xorq_spark.functions.stats import ks_drift

    a = [1.0, 2.0, 2.0, 3.0, 5.0]
    b = [2.0, 4.0, 4.0, 6.0]
    old = spark.createDataFrame([(x,) for x in a], "value double")
    new = spark.createDataFrame([(x,) for x in b], "value double")
    r = ks_drift(old, new).collect()[0]

    vals = sorted(set(a) | set(b))
    n1, n2 = len(a), len(b)
    best, at = -1, None
    for v in vals:
        c1 = sum(1 for x in a if x <= v)
        c2 = sum(1 for x in b if x <= v)
        diff = abs(c1 * n2 - c2 * n1)
        if diff > best:
            best, at = diff, v
    assert r["n_old"] == n1 and r["n_new"] == n2
    assert r["ks_num"] == best
    assert r["ks_e9"] == best * 10**9 // (n1 * n2)
    assert r["ks_at_value"] == at


def test_ks_drift_identical_distributions_zero(spark):
    from xorq_spark.functions.stats import ks_drift

    xs = [(float(i % 7),) for i in range(50)]
    old = spark.createDataFrame(xs, "value double")
    new = spark.createDataFrame(xs, "value double")
    r = ks_drift(old, new).collect()[0]
    assert r["ks_num"] == 0 and r["ks_e9"] == 0


def test_overwrite_partitions_is_surgical(spark, tmp_path):
    from xorq_spark.writes import overwrite_partitions

    path = str(tmp_path / "pt")
    base = spark.createDataFrame(
        [(d, i, i * 10) for d in ("a", "b", "c") for i in range(3)],
        "day string, k int, v int",
    )
    base.write.mode("overwrite").partitionBy("day").parquet(path)

    # backfill ONLY day=b with different content (2 rows, new values)
    fix = spark.createDataFrame(
        [("b", 7, 700), ("b", 8, 800)], "day string, k int, v int"
    )
    overwrite_partitions(fix, path, "day")

    got = spark.read.parquet(path)
    assert got.where("day = 'a'").count() == 3  # untouched
    assert got.where("day = 'c'").count() == 3  # untouched
    b = {r["k"]: r["v"] for r in got.where("day = 'b'").collect()}
    assert b == {7: 700, 8: 800}  # replaced, not appended
    # conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower()
        != "dynamic"
    )


def test_market_basket_matches_python_reference(spark):
    from itertools import combinations

    from xorq_spark.functions.stats import market_basket_pairs

    baskets = {
        1: {"milk", "bread", "eggs"},
        2: {"milk", "bread"},
        3: {"milk", "beer"},
        4: {"bread", "eggs"},
        5: {"milk", "bread", "beer"},
    }
    rows = [(b, i) for b, items in baskets.items() for i in items]
    # duplicate rows must not inflate counts
    rows += [(1, "milk"), (2, "bread")]
    df = spark.createDataFrame(rows, "bid long, item string")
    out = {
        (r["item_a"], r["item_b"]): r
        for r in market_basket_pairs(
            df, "bid", "item", min_pair_count=2
        ).collect()
    }

    N = len(baskets)
    cnt = {}
    pair = {}
    for items in baskets.values():
        for i in items:
            cnt[i] = cnt.get(i, 0) + 1
        for a, b in combinations(sorted(items), 2):
            pair[(a, b)] = pair.get((a, b), 0) + 1
    expect = {k: v for k, v in pair.items() if v >= 2}
    assert set(out) == set(expect)
    for (a, b), c12 in expect.items():
        r = out[(a, b)]
        assert r["n_pair"] == c12
        assert r["n_a"] == cnt[a] and r["n_b"] == cnt[b]
        assert r["support_ppm"] == c12 * 10**6 // N
        assert r["conf_a_to_b_ppm"] == c12 * 10**6 // cnt[a]
        assert r["lift_e6"] == c12 * N * 10**6 // (cnt[a] * cnt[b])


def test_profile_diff_counts_nulls_distincts(spark):
    from xorq_spark.functions.reconcile import profile_diff

    old = spark.createDataFrame(
        [("a", 1), ("b", 2), (None, 2), ("a", None)],
        "s string, v int",
    )
    new = spark.createDataFrame(
        [("a", 1), (None, 1), (None, 1), (None, 9), ("c", None)],
        "s string, v int",
    )
    out = {r["column"]: r for r in profile_diff(old, new, ["s", "v"]).collect()}
    assert out["s"]["n_old"] == 4 and out["s"]["n_new"] == 5
    assert out["s"]["nulls_old"] == 1 and out["s"]["nulls_new"] == 3
    assert out["s"]["distinct_old"] == 2 and out["s"]["distinct_new"] == 2
    assert out["s"]["null_ppm_old"] == 10**6 // 4
    assert out["s"]["null_ppm_new"] == 3 * 10**6 // 5
    assert out["s"]["null_ppm_delta"] == 3 * 10**6 // 5 - 10**6 // 4
    assert out["v"]["distinct_old"] == 2 and out["v"]["distinct_new"] == 2
    assert out["v"]["distinct_delta"] == 0


def test_cuped_matches_python_reference(spark):
    from xorq_spark.functions.stats import cuped_adjust

    # arm A: y correlated with x; arm B: offset
    rows = [("A", 10, 1), ("A", 20, 2), ("A", 30, 3),
            ("B", 25, 2), ("B", 35, 3), ("B", 45, 4)]
    df = spark.createDataFrame(rows, "arm string, y long, x long")
    out = {r["arm"]: r for r in
           cuped_adjust(df, "y", "x", "arm").collect()}

    ys = [r[1] for r in rows]; xs = [r[2] for r in rows]
    n = len(rows)
    sxy = sum(y * x for _, y, x in rows)
    sxx = sum(x * x for x in xs)
    sx, sy = sum(xs), sum(ys)
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    gx = sx / n
    for arm in ("A", "B"):
        grp = [(y, x) for a, y, x in rows if a == arm]
        na = len(grp)
        my = sum(y for y, _ in grp) / na
        mx = sum(x for _, x in grp) / na
        assert out[arm]["n_rows"] == na
        assert out[arm]["sum_y"] == sum(y for y, _ in grp)
        assert abs(out[arm]["theta"] - round(theta, 9)) < 1e-12
        assert abs(
            out[arm]["adj_mean_y"] - round(my - theta * (mx - gx), 9)
        ) < 1e-9
    # CUPED moves the arm means toward each other when x explains y
    raw_gap = abs(out["A"]["mean_y"] - out["B"]["mean_y"])
    adj_gap = abs(out["A"]["adj_mean_y"] - out["B"]["adj_mean_y"])
    assert adj_gap < raw_gap


def test_twap_matches_hand_computation(spark):
    from xorq_spark.functions.timeseries import twap

    rows = [
        ("k", 1, _ts("2024-01-01 00:00:00"), 10.0),  # holds 60s
        ("k", 2, _ts("2024-01-01 00:01:00"), 20.0),  # holds 180s
        ("k", 3, _ts("2024-01-01 00:04:00"), 40.0),  # last: excluded
    ]
    df = spark.createDataFrame(rows, "key string, eid long, ts timestamp, value double")
    r = twap(df, key_col="key", ts_col="ts", value_col="value",
             order_cols=("eid",)).collect()[0]
    # twap = (10*60 + 20*180) / 240 = 4200/240 = 17.5 -> 17500 at e3
    assert r["n_intervals"] == 2
    assert r["total_us"] == 240 * 10**6
    assert r["twap_scaled"] == 17500


def test_max_concurrency_sweep(spark):
    from xorq_spark.functions.timeseries import max_concurrency

    base = _ts("2024-01-01 00:00:00")
    import datetime as dt2

    def at(s):
        return base + dt2.timedelta(seconds=s)

    # duration 10s: intervals [0,10) [5,15) [9,19) overlap 3-deep at 9;
    # [20,30) touches nothing; [30,40) starts exactly when [20,30) ends
    # -> NOT concurrent (half-open)
    rows = [("k", at(0)), ("k", at(5)), ("k", at(9)),
            ("k", at(20)), ("k", at(30))]
    df = spark.createDataFrame(rows, "key string, ts timestamp")
    r = max_concurrency(df, key_col="key", ts_col="ts",
                        duration_seconds=10).collect()[0]
    assert r["max_concurrent"] == 3
    import calendar
    base_us = int(base.replace(tzinfo=dt2.timezone.utc).timestamp()) * 10**6
    assert r["at_us"] == base_us + 9 * 10**6


def test_ohlc_bars_first_last_semantics(spark):
    from xorq_spark.functions.timeseries import ohlc_bars

    rows = [
        ("k", 1, _ts("2024-01-01 00:00:05"), 10.0),
        ("k", 2, _ts("2024-01-01 00:00:05"), 12.0),  # same ts: tie by id
        ("k", 3, _ts("2024-01-01 10:00:00"), 3.0),
        ("k", 4, _ts("2024-01-01 23:59:59"), 7.0),
        ("k", 5, _ts("2024-01-02 00:00:00"), 99.0),  # next bucket
    ]
    df = spark.createDataFrame(
        rows, "key string, eid long, ts timestamp, value double"
    )
    out = {r["bucket_us"]: r for r in ohlc_bars(
        df, key_col="key", ts_col="ts", value_col="value",
        bucket_seconds=86400, order_cols=("eid",),
    ).collect()}
    day1 = min(out)
    b = out[day1]
    assert b["open"] == 10.0 and b["close"] == 7.0
    assert b["high"] == 12.0 and b["low"] == 3.0 and b["n_samples"] == 4
    day2 = max(out)
    assert out[day2]["open"] == out[day2]["close"] == 99.0


def test_cusum_finds_level_shift(spark):
    from xorq_spark.functions.timeseries import cusum_changepoint

    import datetime as dt2

    base = _ts("2024-01-01 00:00:00")
    # 10 samples at 1.0 then 10 at 5.0: changepoint at position 10
    rows = [
        ("k", i, base + dt2.timedelta(seconds=i),
         1.0 if i < 10 else 5.0)
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "key string, eid long, ts timestamp, value double"
    )
    r = cusum_changepoint(
        df, key_col="key", ts_col="ts", value_col="value",
        order_cols=("eid",),
    ).collect()[0]
    assert r["n"] == 20
    assert r["at_pos"] == 10  # deviation peaks at the end of regime 1
    # replay: S_10 = 10*1000, SN = 10000+50000, D = |20*10000 - 10*60000|
    assert r["d_num"] == abs(20 * 10000 - 10 * 60000)


def test_lift_table_perfect_and_random_scores(spark):
    from xorq_spark.ml.metrics import lift_table

    # perfect classifier: 20 rows, top 4 scores are the 4 positives
    rows = [(100 - i, i < 4, i) for i in range(20)]
    df = spark.createDataFrame(rows, "s long, y boolean, rid long")
    out = {r["bucket"]: r for r in lift_table(
        df, "s", "y", n_buckets=5, order_cols=("rid",)
    ).collect()}
    # bucket 1 holds ranks 1-4 = all positives
    assert out[1]["n"] == 4 and out[1]["n_pos"] == 4
    assert out[1]["pos_rate_ppm"] == 10**6
    # lift of bucket 1 = (4 * 20 * 1e6) / (4 * 4) = 5e6 (5x base rate)
    assert out[1]["cum_lift_ppm"] == 5 * 10**6
    # final cumulative bucket recovers the base rate (lift 1.0)
    last = out[max(out)]
    assert last["cum_n"] == 20 and last["cum_pos"] == 4
    assert last["cum_lift_ppm"] == 10**6


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    from xorq_spark.functions.stats import bootstrap_mean_ci

    rows = [(i % 100, str(i)) for i in range(2000)]
    df = spark.createDataFrame(rows, "x long, k string")
    r1 = bootstrap_mean_ci(df, "x", "k", n_resamples=40).collect()[0]
    r2 = bootstrap_mean_ci(df, "x", "k", n_resamples=40).collect()[0]
    assert r1 == r2  # pure function of the data: rerun-identical
    assert r1["n"] == 2000
    # point mean = 49.5 -> 49_500_000 at e6
    assert r1["point_mean_e6"] == 49_500_000
    assert r1["ci_lo_e6"] <= r1["point_mean_e6"] <= r1["ci_hi_e6"]
    # CI is tight for n=2000 iid uniforms (se ~ 0.65): within ~3 units
    assert r1["ci_hi_e6"] - r1["ci_lo_e6"] < 5_000_000
    assert r1["n_resamples"] == 40


def test_bootstrap_poisson_weights_distribution(spark):
    # sanity on the inverse-CDF table: weights over many draws should
    # average ~1 and hit 0/1/2 with Poisson(1)-ish frequencies
    from xorq_spark.functions.stats import bootstrap_mean_ci, _POISSON1_CDF_E6

    assert _POISSON1_CDF_E6[0] == 367879  # P(0) = 1/e
    assert len(_POISSON1_CDF_E6) == 8
    assert all(
        a < b for a, b in zip(_POISSON1_CDF_E6, _POISSON1_CDF_E6[1:])
    )


def test_mann_whitney_matches_scipy_convention(spark):
    from xorq_spark.functions.stats import mann_whitney_u

    a = [1.0, 2.0, 3.0, 4.0, 10.0]
    b = [5.0, 6.0, 7.0, 8.0, 9.0, 2.0]  # one tie with a
    old = spark.createDataFrame([(x,) for x in a], "value double")
    new = spark.createDataFrame([(x,) for x in b], "value double")
    r = mann_whitney_u(old, new).collect()[0]

    # python reference with average ranks
    allv = sorted(a + b)
    n = len(allv)

    def avg_rank(x):
        lo = next(i for i, v in enumerate(allv) if v == x) + 1
        hi = n - next(i for i, v in enumerate(reversed(allv)) if v == x)
        return (lo + hi) / 2

    ra = sum(avg_rank(x) for x in a)
    u_a = ra - len(a) * (len(a) + 1) / 2
    assert r["n_a"] == 5 and r["n_b"] == 6
    assert r["u2_a"] == int(2 * u_a)
    assert r["u2_a"] + r["u2_b"] == 2 * len(a) * len(b)
    # tie group of size 2 (value 2.0): sum t^3 - t = 6
    assert r["tie_cube_sum"] == 6


def test_spearman_matches_reference(spark):
    from xorq_spark.functions.stats import spearman_corr

    # perfectly monotone -> rho = 1; reversed -> -1; with ties
    rows = [(1, 10), (2, 20), (3, 30), (4, 40), (5, 50)]
    df = spark.createDataFrame(rows, "x long, y long")
    assert spearman_corr(df, "x", "y").collect()[0]["rho"] == 1.0
    rev = spark.createDataFrame(
        [(x, -y) for x, y in rows], "x long, y long"
    )
    assert spearman_corr(rev, "x", "y").collect()[0]["rho"] == -1.0

    # tied case against scipy-convention hand computation
    rows2 = [(1, 2), (2, 2), (3, 1), (4, 5), (5, 4)]
    df2 = spark.createDataFrame(rows2, "x long, y long")
    r = spearman_corr(df2, "x", "y").collect()[0]
    # average ranks: x = 1..5; y = (2.5, 2.5, 1, 5, 4)
    import math
    xr = [1, 2, 3, 4, 5]
    yr = [2.5, 2.5, 1, 5, 4]
    n = 5
    mx, my = sum(xr) / n, sum(yr) / n
    num = sum((a - mx) * (b - my) for a, b in zip(xr, yr))
    den = math.sqrt(sum((a - mx) ** 2 for a in xr)) * math.sqrt(
        sum((b - my) ** 2 for b in yr)
    )
    assert abs(r["rho"] - round(num / den, 9)) < 1e-9


def _bootstrap_partials_sql(d, B, P31, seed):
    """All-SQL partial sums: the 2B+2-buffer codegen'd aggregate that
    bootstrap_mean_ci ran before its Arrow stage, kept as the reference
    the Arrow path must reproduce. Returns (per_b, wide)."""
    from xorq_spark.functions.stats import _POISSON1_CDF_E6

    two = d.select(
        "__x",
        F.expr(f"md5(concat('{seed}|', __k))").alias("__dig"),
    ).select(
        "__x",
        F.expr(
            f"CAST(conv(substring(__dig, 1, 8), 16, 10) AS BIGINT) % {P31}"
        ).alias("__v1"),
        # greatest(·, 1) remaps the ~2^-31 v2=0 row (whose 40 weights
        # would otherwise all collapse to the same value) to stride 1;
        # part of the committed contract the oracle replays
        F.expr(
            f"greatest(CAST(conv(substring(__dig, 17, 8), 16, 10) AS BIGINT)"
            f" % {P31}, 1)"
        ).alias("__v2"),
    )
    # Weight expressions are INLINED into the aggregate so the whole
    # uniform -> inverse-CDF -> partial-sum chain lives inside the hash
    # aggregate's codegen'd update loop. (Materializing 40 weight
    # columns in a projection first defeats whole-stage codegen —
    # measured 25s vs 3s at sf0.1 for identical results. The weight is
    # the branchless #{thresholds <= u}, equal to the CASE-chain
    # inverse-CDF index.)
    aggs = [F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum("__x").alias("__sx")]
    for b in range(1, B + 1):
        u = f"((__v1 + __v2 * {b}) % {P31} % 1000000)"
        wexpr = "(" + " + ".join(
            f"CAST({u} >= {t} AS BIGINT)" for t in _POISSON1_CDF_E6
        ) + ")"
        aggs.append(
            F.expr(f"CAST(sum({wexpr} * __x) AS BIGINT)").alias(f"__swx{b}")
        )
        aggs.append(F.expr(f"CAST(sum({wexpr}) AS BIGINT)").alias(f"__sw{b}"))
    wide = two.agg(*aggs).localCheckpoint(eager=True)
    per_struct = ",".join(
        f"struct(CAST({b} AS INT) AS b, __swx{b} AS swx, __sw{b} AS sw)"
        for b in range(1, B + 1)
    )
    per_b = (
        wide.select(F.explode(F.expr(f"array({per_struct})")).alias("__p"))
        .select(
            F.col("__p.b").alias("__b"),
            F.col("__p.swx").alias("__swx"),
            F.col("__p.sw").alias("__sw"),
        )
        .where(F.col("__sw") > 0)
    )
    return per_b, wide


def _bootstrap_readout(per_b, wide, lo_pct, hi_pct):
    """Shared CI readout over the (b, swx, sw) rows + (n, sx) totals."""
    from pyspark.sql import Window

    means = per_b.select(
        "__b",
        F.expr(
            "CAST(CAST(__swx AS DECIMAL(38,0)) * 1000000"
            " div CAST(__sw AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("__m"),
    )
    w = Window.orderBy("__m", "__b")
    ranked = means.withColumn("__r", F.row_number().over(w))
    bq = means.agg(
        F.count(F.lit(1)).cast("long").alias("__nB")
    ).select(
        "__nB",
        F.expr(f"({int(lo_pct)} * __nB + 99) div 100").alias("__lo_r"),
        F.expr(f"({int(hi_pct)} * __nB + 99) div 100").alias("__hi_r"),
    )
    stats = wide.select(
        F.col("__n").alias("n"),
        F.expr(
            "CAST(CAST(__sx AS DECIMAL(38,0)) * 1000000"
            " div __n AS BIGINT)"
        ).alias("point_mean_e6"),
    )
    picks = ranked.crossJoin(F.broadcast(bq))
    lo = picks.where(F.col("__r") == F.col("__lo_r")).select(
        F.col("__m").alias("ci_lo_e6")
    )
    hi = picks.where(F.col("__r") == F.col("__hi_r")).select(
        F.col("__m").alias("ci_hi_e6"),
        F.col("__nB").alias("n_resamples"),
    )
    return stats.crossJoin(F.broadcast(lo)).crossJoin(F.broadcast(hi))


def _bootstrap_rows(name):
    if name == "mixed777":
        return [(i * 37 % 501 - 250, f"k{i}") for i in range(777)]
    if name == "one_row":
        return [(-7, "k0")]
    if name == "empty":
        return []
    # non-ASCII keys: Spark's md5 must hash the same UTF-8 bytes the
    # oracle does
    keys = ["ключ", "日本語", "é", "naïve", "🙂", "Straße", "ǅ", " "]
    return [(i * 13 % 97 - 40, f"{keys[i % len(keys)]}{i}") for i in range(200)]


@pytest.mark.parametrize(
    "name,B,lo_pct,hi_pct",
    [
        ("mixed777", 40, 5, 95),
        ("one_row", 40, 5, 95),
        ("empty", 40, 5, 95),
        ("non_ascii", 40, 5, 95),
        ("mixed777", 1, 5, 95),
        ("mixed777", 100, 5, 95),
        ("mixed777", 40, 50, 50),
        ("mixed777", 40, 0, 95),
        ("mixed777", 40, 5, 100),
    ],
)
def test_bootstrap_arrow_matches_sql(spark, name, B, lo_pct, hi_pct):
    """The JVM digest, Arrow partials and one-task fold must reproduce
    the SQL reference aggregate + readout exactly (same md5/Carter-
    Wegman/inverse-CDF contract) on every output column, zero-row
    readouts included."""
    from xorq_spark.functions.stats import bootstrap_mean_ci

    rows = _bootstrap_rows(name)
    df = spark.createDataFrame(rows, "x long, k string")
    if name == "non_ascii":
        import hashlib

        dig = df.select("k", F.md5(F.concat(F.lit("bs|"), "k")).alias("d"))
        assert {r.k: r.d for r in dig.collect()} == {
            k: hashlib.md5(f"bs|{k}".encode("utf-8")).hexdigest()
            for _, k in rows
        }
    got = bootstrap_mean_ci(
        df, "x", "k", n_resamples=B, lo_pct=lo_pct, hi_pct=hi_pct
    ).collect()
    d = df.select(F.col("x").alias("__x"), F.col("k").alias("__k"))
    per_b, wide = _bootstrap_partials_sql(d, B, (1 << 31) - 1, "bs")
    want = _bootstrap_readout(per_b, wide, lo_pct, hi_pct).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # rank 0 (lo_pct = 0) and an empty input read out zero rows
    assert len(got) == (0 if name == "empty" or lo_pct == 0 else 1)
    assert all(r["n"] == len(rows) for r in got)


def test_bootstrap_builds_lazily_and_runs_three_jobs(spark, tmp_path):
    """Building the CI launches no job; the action runs at most three:
    the widen rebalance of the one-file scan, the Arrow partials, and
    the fold task."""
    import uuid

    from xorq_spark.functions.stats import bootstrap_mean_ci

    path = str(tmp_path / "bs.parquet")
    spark.createDataFrame(
        [(i % 100, str(i)) for i in range(2000)], "x long, k string"
    ).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    sc = spark.sparkContext

    def jobs(fn):
        group = f"bootstrap-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "bootstrap job count")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    ci, built = jobs(lambda: bootstrap_mean_ci(df, "x", "k"))
    rows, ran = jobs(ci.collect)
    assert built == []
    assert 1 <= len(ran) <= 3
    assert rows[0]["n"] == 2000 and rows[0]["point_mean_e6"] == 49_500_000
