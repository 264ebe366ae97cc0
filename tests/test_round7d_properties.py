"""Randomized reference-implementation checks for the round-7d operators:
each Spark result is compared against a brute-force Python computation on
seeded random inputs (the test_round5_properties.py pattern — one Spark
job per case). These pin the operators' MATH; the engine-vs-engine
numerics contracts are pinned by the DuckDB oracles.
"""

from __future__ import annotations

import datetime
import random
from collections import Counter

from pyspark.sql import functions as F

from ddataframeoperation_spark.operators.dedup import containment_pairs
from ddataframeoperation_spark.operators.relational import (
    _RANK_BUCKETS,
    chi_square_test,
    ks_test,
    rank_sum_test,
)
from ddataframeoperation_spark.operators.timeseries import rolling_distinct
from ddataframeoperation_spark.operators.windows import (
    activity_streaks,
    top_paths,
)


def test_rank_sum_matches_bruteforce_random(spark):
    rng = random.Random(11)
    rows = [
        (rng.choice(["A", "B"]), float(rng.randint(0, 25)) / 2.0)
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = rank_sum_test(df, "g", "v", "A").collect()[0]

    all_v = sorted(v for _, v in rows)
    # Average rank per distinct value.
    rank: dict[float, float] = {}
    pos = 1
    for v in sorted(set(all_v)):
        c = all_v.count(v)
        rank[v] = pos + (c - 1) / 2.0
        pos += c
    ra = sum(rank[v] for g, v in rows if g == "A")
    na = sum(1 for g, _ in rows if g == "A")
    assert r["n_a"] == na and r["rank_sum_a"] == round(ra, 4)
    assert r["u_a"] == round(ra - na * (na + 1) / 2.0, 4)


def test_ks_matches_bruteforce_random(spark):
    rng = random.Random(13)
    rows = [("A", float(rng.randint(0, 30))) for _ in range(250)] + [
        ("B", float(rng.randint(5, 40))) for _ in range(180)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_test(df, "g", "v", "A").collect()[0]

    a = sorted(v for g, v in rows if g == "A")
    b = sorted(v for g, v in rows if g == "B")
    pts = sorted(set(a + b))
    ecdf = lambda xs, t: sum(1 for x in xs if x <= t) / len(xs)  # noqa: E731
    d = max(abs(ecdf(a, t) - ecdf(b, t)) for t in pts)
    assert r["ks_d"] == round(d, 4)


def test_ks_matches_reference_at_production_buckets(spark):
    """More than 2 × 512 distinct values (several per bucket, so both
    prefix levels carry counts) plus a heavy tie block shared by both
    cohorts; the ECDFs come from one sorted pass."""
    rng = random.Random(29)
    rows = [("A", 7.0) for _ in range(700)] + [("B", 7.0) for _ in range(300)]
    rows += [("A", rng.randrange(2500) / 2) for _ in range(2500)]
    rows += [("B", rng.randrange(500, 3500) / 2) for _ in range(2000)]
    counts = Counter(v for _, v in rows)
    assert len(counts) > 2 * _RANK_BUCKETS
    ca = Counter(v for g, v in rows if g == "A")
    cb = Counter(v for g, v in rows if g == "B")
    n1, n2 = sum(ca.values()), sum(cb.values())
    cum_a = cum_b = 0
    d = 0.0
    for v in sorted(counts):
        cum_a += ca[v]
        cum_b += cb[v]
        d = max(d, abs(cum_a / n1 - cum_b / n2))

    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_test(df, "g", "v", "A").collect()[0]
    assert (r["n_a"], r["n_b"], r["ks_d"]) == (n1, n2, round(d, 4))


def test_chi_square_matches_bruteforce_random(spark):
    rng = random.Random(17)
    rows = [
        (rng.choice(["x", "y", "z"]), rng.choice(["p", "q"]))
        for _ in range(500)
    ]
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi_square_test(df, "a", "b").collect()[0]

    n = len(rows)
    obs = Counter(rows)
    ra = Counter(a for a, _ in rows)
    cb = Counter(b for _, b in rows)
    chi2 = 0.0
    for a in ra:
        for b in cb:
            e = ra[a] * cb[b] / n
            o = obs.get((a, b), 0)
            chi2 += (o - e) ** 2 / e
    assert r["n"] == n
    assert r["dof"] == (len(ra) - 1) * (len(cb) - 1)
    assert abs(r["chi2"] - chi2) < 1e-3


def test_rolling_distinct_matches_bruteforce_random(spark):
    rng = random.Random(19)
    rows = [
        (
            datetime.datetime(2024, 1, rng.randint(1, 14), rng.randint(0, 23)),
            rng.randint(1, 25),
        )
        for _ in range(600)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, user_id long")
    got = {
        r["day"].isoformat(): r["n_active"]
        for r in rolling_distinct(df, window_days=4).collect()
    }
    days = sorted({ts.date() for ts, _ in rows})
    expect = {}
    for d in days:
        ks = {
            k
            for ts, k in rows
            if (d - ts.date()).days in range(0, 4) and ts.date() <= d
        }
        expect[d.isoformat()] = len(ks)
    assert got == expect


def test_activity_streaks_matches_bruteforce_random(spark):
    rng = random.Random(23)
    rows = [
        (rng.randint(1, 8), datetime.datetime(2024, 1, rng.randint(1, 20)))
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["user_id"], r["streak_start"].isoformat()): r["streak_days"]
        for r in activity_streaks(df, top_per_key=99).collect()
    }
    expect = {}
    by_user: dict[int, set] = {}
    for u, ts in rows:
        by_user.setdefault(u, set()).add(ts.date())
    for u, days in by_user.items():
        ds = sorted(days)
        start = ds[0]
        run = 1
        for prev, cur in zip(ds, ds[1:]):
            if (cur - prev).days == 1:
                run += 1
            else:
                expect[(u, start.isoformat())] = run
                start, run = cur, 1
        expect[(u, start.isoformat())] = run
    assert got == expect


def test_top_paths_matches_bruteforce_random(spark):
    rng = random.Random(29)
    rows = [
        (
            rng.randint(1, 6),
            datetime.datetime(2024, 1, 1, 0, 0, 0)
            + datetime.timedelta(seconds=i),
            i,
            rng.choice(["a", "b", "c"]),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    got = {
        r["path"]: r["n"]
        for r in top_paths(
            df, path_len=3, top_n=1000, tiebreak=("event_id",)
        ).collect()
    }
    by_user: dict[int, list[str]] = {}
    for u, _, eid, et in sorted(rows, key=lambda r: (r[1], r[2])):
        by_user.setdefault(u, []).append(et)
    expect: Counter = Counter()
    for seq in by_user.values():
        for i in range(len(seq) - 2):
            expect[" > ".join(seq[i : i + 3])] += 1
    assert got == dict(expect)


def test_containment_matches_bruteforce_random(spark):
    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 25))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_small"], r["id_big"]): r["containment"]
        for r in containment_pairs(df, threshold=0.6).collect()
    }
    sets = {i: set(t.split()) for i, t in rows}
    expect = {}
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a == b or not sa:
                continue
            c = len(sa & sb) / len(sa)
            if c >= 0.6:
                expect[(a, b)] = round(c, 4)
    assert got == expect
