"""Round-12 property tests: this round's changed kernels vs brute force.

- binary_quantize / binary_hamming_topk must equal a pure-Python packer
  on NULL-bearing, multi-word (dim > 64) vectors — the r12 NULL/ragged
  contract, beyond the fixed 64-dim fixture test.
- semantic_join's BLAS cogroup kernel must pick the same winners and
  4dp scores as the sequential-fold mode on random instances with
  duplicate vectors and NULL elements.
- the checkpoint-sweep round-dir pattern must match exactly the names
  the operators write and nothing else (it deletes recursively).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


def _pack(v):
    words = []
    for w in range((len(v) + 63) // 64):
        bits = 0
        for i in range(w * 64, min(len(v), (w + 1) * 64)):
            x = v[i]
            if x is not None and float(x) > 0:
                bits |= 1 << (i - w * 64)
        if bits >= 1 << 63:
            bits -= 1 << 64
        words.append(bits)
    return words


@pytest.mark.parametrize("seed", [3, 11, 29])
def test_binary_quantize_multiword_nulls_match_python(spark, seed):
    from ddataframeoperation_spark.operators.similarity import (
        binary_hamming_topk,
        binary_quantize,
    )

    rng = random.Random(seed)
    dim = 70  # two packed words; tail word exercises the short range
    vecs = {}
    for i in range(30):
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        # sprinkle NULLs, exact zeros, and force the word-0 sign bit
        for _ in range(4):
            v[rng.randrange(dim)] = None
        v[rng.randrange(dim)] = 0.0
        if i % 3 == 0:
            v[63] = abs(v[63] or 0.5) + 0.5
        vecs[i] = v
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: list(r["c"])
        for r in df.select(
            "vec_id", binary_quantize(F.col("embedding"), dim).alias("c")
        ).collect()
    }
    assert got == {i: _pack(v) for i, v in vecs.items()}

    q = vecs[0]
    out = binary_hamming_topk(df, q, k=30).collect()

    def ham(a, b):
        wa, wb = _pack(a), _pack(b)
        return sum(bin((x ^ y) & ((1 << 64) - 1)).count("1")
                   for x, y in zip(wa, wb))

    brute = sorted((ham(v, q), i) for i, v in vecs.items())
    assert [(r["hamming"], r["vec_id"]) for r in out] == brute


@pytest.mark.parametrize("seed", [5, 17])
def test_semantic_join_arrow_fold_parity_random(spark, seed):
    from cosine_reference import assert_rounded, semantic_join_reference

    from ddataframeoperation_spark.operators.similarity import (
        kmeans_centroids,
        semantic_join,
    )

    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)]
    rows[40] = (40, list(rows[41][1]))       # duplicate right vectors
    rows[50] = (50, rows[50][1][:7] + [None])  # NULL element candidate
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    left = emb.filter(F.col("vec_id") < 15)
    right = emb.filter(F.col("vec_id") >= 15)
    cents = kmeans_centroids(
        emb.filter(F.col("vec_id") != 50), k=3, iters=2
    )

    fast = {
        r["l_vec_id"]: (r["r_vec_id"], r["cos_sim"])
        for r in semantic_join(left, right, cents, nprobe=None).collect()
    }
    exact = semantic_join_reference(rows[:15], rows[15:])
    assert fast.keys() == exact.keys() and len(fast) == 15
    for lid, (rid, cos) in fast.items():
        assert rid == exact[lid][0], lid
        assert_rounded(cos, exact[lid][1])
    # the NULL-element candidate never wins anywhere
    assert all(rid != 50 for rid, _ in fast.values())


def test_sweep_pattern_matches_only_operator_round_dirs():
    from ddataframeoperation_spark.operators.dedup import _ROUND_DIR_RE

    run = "0123456789ab"
    for ok in (
        f"cc_{run}_round_0",
        f"pr_{run}_round_999",
        f"kwpr_edges_{run}",
    ):
        assert _ROUND_DIR_RE.match(ok), ok
    for bad in (
        "cc_short_round_0",            # run id not 12 hex chars
        f"cc_{run}_round_",            # no round number
        f"cc_{run}_round_0_extra",     # trailing junk
        f"PR_{run}_round_0",           # case matters
        f"kwpr_edges_{run}x",          # trailing junk
        "user_data.parquet",
        "docs",
        f"pr_{run}",                   # no round suffix
    ):
        assert not _ROUND_DIR_RE.match(bad), bad
