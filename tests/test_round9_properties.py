"""Round-9 property tests: the four new planner/trainer operators vs
brute-force references.

- join_fanout_estimate must equal the ACTUAL join's row count.
- join_strategy_advice must match a pure-Python re-implementation.
- lsh_power_curve must equal the identical integer fold in Python
  (engine-exactness is the contract) and track the analytic curve.
- bpe_train_step must match a pure-Python single-step BPE trainer.
"""

from __future__ import annotations

import random
from collections import Counter

import pytest


def _rand_keys(rng, n, hot_share):
    keys = []
    for _ in range(n):
        if rng.random() < hot_share:
            keys.append(0)
        else:
            keys.append(rng.randrange(1, 20))
    return keys


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_join_fanout_equals_actual_join_count(spark, seed):
    from ddataframeoperation_spark.operators.skew import join_fanout_estimate

    rng = random.Random(seed)
    lk = _rand_keys(rng, 200, 0.3)
    rk = _rand_keys(rng, 150, 0.1)
    left = spark.createDataFrame([(k, 0) for k in lk], "k long, v long")
    right = spark.createDataFrame([(k, 1) for k in rk], "k long, v long")
    rows = join_fanout_estimate(left, "k", right, "k", top_n=50).collect()
    actual = left.join(right, "k").count()
    # The estimate is EXACT: total equals the real join's output count.
    assert rows and all(r["total_out_rows"] == str(actual) for r in rows)
    lc, rc = Counter(lk), Counter(rk)
    # out_rows ships as the canonical string of the DECIMAL(38,0)
    # product (r10 overflow fix) — compare as strings.
    want = {str(k): str(lc[k] * rc[k]) for k in lc if k in rc}
    got = {r["key_value"]: r["out_rows"] for r in rows}
    assert got == want
    assert all(r["matched_keys"] == len(want) for r in rows)


@pytest.mark.parametrize("seed", [3, 11])
def test_join_advisor_matches_python_reference(spark, seed):
    from ddataframeoperation_spark.operators.skew import join_strategy_advice

    rng = random.Random(seed)
    fk = _rand_keys(rng, 300, rng.choice([0.0, 0.5]))
    dim_n = rng.choice([5, 500])
    bmax, sbp, par = 50, 2000, 128
    fact = spark.createDataFrame([(k, 0) for k in fk], "k long, v long")
    dim = spark.createDataFrame([(i,) for i in range(dim_n)], "k long")
    r = join_strategy_advice(
        fact, "k", dim, "k", broadcast_max_rows=bmax,
        skew_share_bp=sbp, target_parallelism=par,
    ).collect()[0]

    c = Counter(str(k) for k in fk)
    top_n = max(c.values())
    top_key = min(k for k, v in c.items() if v == top_n)
    share = top_n * 10000 // len(fk)
    if dim_n <= bmax:
        strategy, salt = "broadcast", 0
    elif share >= sbp:
        strategy, salt = "salted", min(par, share * par // 10000 + 1)
    else:
        strategy, salt = "shuffle", 0
    assert (r["fact_rows"], r["fact_keys"]) == (len(fk), len(c))
    assert (r["fact_top_key"], r["fact_top_share_bp"]) == (top_key, share)
    assert (r["strategy"], r["salt_buckets"]) == (strategy, salt)


def test_lsh_power_curve_equals_integer_fold_reference(spark):
    from ddataframeoperation_spark.operators.dedup import lsh_power_curve

    configs = ((8, 4), (16, 8), (32, 4), (1, 1), (4, 2))
    grid = tuple(range(0, 10001, 700)) + (10000,)
    rows = lsh_power_curve(spark, configs=configs, s_grid_bp=grid).collect()

    def fold(x, m, times):
        for _ in range(times):
            x = (x * m) // 10000
        return x

    seen = 0
    for r in rows:
        p = fold(r["s_bp"], r["s_bp"], r["rows_per_band"] - 1)
        q = 10000 - p
        miss = fold(q, q, r["n_bands"] - 1)
        assert (r["p_band_bp"], r["recall_bp"]) == (p, 10000 - miss), r
        seen += 1
    assert seen == len(configs) * len(set(grid))


def _python_bpe_step(texts):
    """Pure-Python single BPE trainer iteration (the reference)."""
    import re

    words = Counter()
    for t in texts:
        norm = re.sub(r"[^a-z0-9]+", " ", t.lower()).strip()
        for w in norm.split(" "):
            if w and len(w) >= 2:
                words[w] += 1
    pairs = Counter()
    for w, c in words.items():
        for i in range(len(w) - 1):
            pairs[w[i : i + 2]] += c
    if not pairs:
        return None
    merge = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    post = Counter()
    residual = 0
    broken = 0
    for w, c in words.items():
        syms, i = [], 0
        while i < len(w):
            if w[i : i + 2] == merge:
                syms.append(merge)
                i += 2
            else:
                syms.append(w[i])
                i += 1
        if "".join(syms) != w:
            broken += 1
        for a, b in zip(syms, syms[1:]):
            if a + b == merge and a == merge[0] and b == merge[1]:
                residual += c
            post[a + "+" + b] += c
    return merge, pairs[merge], residual, broken, post


@pytest.mark.parametrize("seed", [2, 9, 23])
def test_bpe_train_step_matches_python_reference(spark, seed):
    from ddataframeoperation_spark.operators.text import bpe_train_step

    rng = random.Random(seed)
    alphabet = "abcde"
    texts = [
        " ".join(
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 7)))
            for _ in range(rng.randrange(1, 12))
        )
        for _ in range(25)
    ]
    ref = _python_bpe_step(texts)
    assert ref is not None
    merge, mcount, residual, broken, post = ref
    top10 = sorted(post.items(), key=lambda kv: (-kv[1], kv[0]))[:10]

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = bpe_train_step(docs, top_n=10).collect()
    assert all(r["merge_pair"] == merge and r["merge_count"] == mcount for r in rows)
    assert all(r["residual_count"] == residual and r["broken_words"] == broken for r in rows)
    assert [(r["pair"], r["pair_count"]) for r in rows] == top10


@pytest.mark.parametrize("seed", [5, 17, 31])
def test_auc_exact_matches_pairwise_bruteforce(spark, seed):
    from ddataframeoperation_spark.operators.relational import auc_exact

    rng = random.Random(seed)
    rows = [
        (round(rng.random(), 2), rng.random() < 0.3) for _ in range(120)
    ]
    df = spark.createDataFrame(rows, "score double, label boolean")
    r = auc_exact(df, "score", "label").collect()[0]
    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    # Doubled pair count: 2 per win, 1 per tie -> exact integer.
    u2 = sum(2 if p > n else (1 if p == n else 0) for p in pos for n in neg)
    assert r["u2_pos"] == u2
    assert r["auc_bp"] == (u2 * 10000) // (2 * len(pos) * len(neg))
    assert (r["n_pos"], r["n_neg"]) == (len(pos), len(neg))


def test_auc_exact_matches_reference_at_production_buckets(spark):
    """More than 2 × 512 distinct scores (several per bucket, so both
    prefix levels carry counts) plus a heavy tie block holding both
    labels; U is counted per positive by bisecting the sorted negatives."""
    import bisect

    from ddataframeoperation_spark.operators.relational import (
        _RANK_BUCKETS,
        auc_exact,
    )

    rng = random.Random(41)
    rows = []
    for _ in range(5000):
        s = 0.5 if rng.random() < 0.2 else round(rng.random(), 3)
        rows.append((s, rng.random() < 0.2 + 0.5 * s))
    assert len({s for s, _ in rows}) > _RANK_BUCKETS
    neg = sorted(s for s, y in rows if not y)
    pos = [s for s, y in rows if y]
    u2 = sum(
        bisect.bisect_left(neg, p) + bisect.bisect_right(neg, p) for p in pos
    )

    df = spark.createDataFrame(rows, "score double, label boolean")
    r = auc_exact(df, "score", "label").collect()[0]
    assert (r["n_pos"], r["n_neg"], r["u2_pos"]) == (len(pos), len(neg), u2)
    assert r["auc_bp"] == (u2 * 10000) // (2 * len(pos) * len(neg))
