"""Round-13 pins: the rfm 6dp cut-rounding semantics (a pure-Python
replay of the engine's percentile → round(6) → strict-compare bucket
math over randomized integer metrics), and the examples-smoke guard
against module-level SF_DIR derivations."""

from __future__ import annotations

import random

import pytest


def _py_percentile(xs: list[int], q: float) -> float:
    """Spark percentile() / numpy 'linear': lower + frac*(higher-lower)
    over the sorted values at pos = q*(n-1)."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    frac = pos - lo
    if lo + 1 >= len(s):
        return float(s[lo])
    return s[lo] + frac * (s[lo + 1] - s[lo])


def _py_bucket(metric: int, cuts: list[float], best_is_low: bool) -> int:
    cuts = [round(c, 6) for c in cuts]
    if best_is_low:
        return 1 + sum(1 for c in cuts if metric > c)
    return 1 + sum(1 for c in cuts if metric < c)


@pytest.mark.usefixtures("spark")
class TestRfmCutRounding:
    def test_bucket_grid_matches_pure_python_replay(self, spark):
        # Randomized integer metrics (the operator's only float surface
        # is the interpolated cut points, rounded to 6dp on both
        # engines). The replay recomputes recency/frequency/cents and
        # the full (r,f,m) grid driver-style; any divergence in the
        # percentile fold, the 6dp round, or the strict comparisons
        # shows up as a grid mismatch.
        import datetime

        from ddataframeoperation_spark.operators.relational import rfm_segments

        rng = random.Random(13)
        base = datetime.date(2024, 1, 1)
        rows = []
        per_cust: dict[int, list[tuple[datetime.date, float]]] = {}
        for cust in range(60):
            n_orders = rng.randint(1, 12)
            orders = []
            for _ in range(n_orders):
                d = base + datetime.timedelta(days=rng.randint(0, 364))
                # clean-2-decimal money (the repo's money contract)
                amt = rng.randint(100, 99999) / 100.0
                orders.append((d, amt))
                rows.append((cust, d, amt))
            per_cust[cust] = orders
        df = spark.createDataFrame(
            rows, "o_custkey int, o_orderdate date, o_totalprice double"
        )
        got = {
            (r["r_bucket"], r["f_bucket"], r["m_bucket"]): (
                r["n_customers"],
                r["total_cents"],
            )
            for r in rfm_segments(df).collect()
        }

        # pure-Python replay
        maxd = max(d for ords in per_cust.values() for d, _ in ords)
        rdays = {
            c: (maxd - max(d for d, _ in ords)).days
            for c, ords in per_cust.items()
        }
        freq = {c: len(ords) for c, ords in per_cust.items()}
        cents = {
            c: sum(int(a * 100 + 0.5) for _, a in ords)
            for c, ords in per_cust.items()
        }
        qs = [0.2, 0.4, 0.6, 0.8]
        rc = [_py_percentile(list(rdays.values()), q) for q in qs]
        fc = [_py_percentile(list(freq.values()), q) for q in qs]
        mc = [_py_percentile(list(cents.values()), q) for q in qs]
        want: dict[tuple[int, int, int], list[int]] = {}
        for c in per_cust:
            key = (
                _py_bucket(rdays[c], rc, True),
                _py_bucket(freq[c], fc, False),
                _py_bucket(cents[c], mc, False),
            )
            agg = want.setdefault(key, [0, 0])
            agg[0] += 1
            agg[1] += cents[c]
        assert got == {k: tuple(v) for k, v in want.items()}


class TestExamplesSmokeGuard:
    def test_module_level_sf_dir_derivation_rejected(self, tmp_path):
        # The smoke's SF_DIR override lands AFTER the module body runs,
        # so a module-level value derived from SF_DIR would silently
        # keep the default fixture — the guard must fail such a module
        # loudly instead of green-lighting a wrong-fixture run.
        import tools.examples_smoke as es

        bad = tmp_path / "bad_example.py"
        bad.write_text(
            'SF_DIR = "/root/testdata/sf0.01"\n'
            'DOCS = f"{SF_DIR}/documents.parquet"\n'
            "def main():\n"
            "    return 0\n"
        )
        good = tmp_path / "good_example.py"
        good.write_text(
            'SF_DIR = "/root/testdata/sf0.01"\n'
            "def main():\n"
            '    assert SF_DIR == "OVERRIDDEN"\n'
            "    return 0\n"
        )
        import sys

        old = es.EXAMPLES
        old_argv = sys.argv
        try:
            es.EXAMPLES = [bad, good]
            sys.argv = ["examples_smoke.py", "OVERRIDDEN"]
            rc = es.main()
        finally:
            es.EXAMPLES = old
            sys.argv = old_argv
        # bad_example must fail (derivation guard), good_example must
        # pass WITH the override visible inside main() -> rc nonzero
        # because exactly one of the two failed.
        assert rc == 1


# --------------------------------- r13 review fixes: NULL/NaN contracts


@pytest.mark.usefixtures("spark")
class TestNullContractFixes:
    def test_cusum_all_null_day_excluded_from_n_and_t(self, spark):
        # A day whose values are all NULL must not count into n while
        # being skipped by T — that broke the documented S_n == 0
        # invariant and biased the argmax (r13 review finding).
        import datetime

        from pyspark.sql import functions as F

        from ddataframeoperation_spark.operators.timeseries import (
            cusum_changepoint,
        )

        base = datetime.datetime(2024, 1, 1, 12, 0)
        rows = [
            ("g", base, 10.0),
            ("g", base + datetime.timedelta(days=1), None),  # all-NULL day
            ("g", base + datetime.timedelta(days=2), 20.0),
        ]
        df = spark.createDataFrame(rows, "grp string, ts timestamp, v double")
        out = cusum_changepoint(
            df, "ts", F.floor(F.col("v") * 100 + F.lit(0.5)).cast("long"), "grp"
        ).collect()
        assert len(out) == 1
        # n counts only the 2 observed days; the correct 2-day series is
        # S(d1) = 2*1000 - 3000 = -1000, S(d3) = 0 -> argmax |S| = d1.
        assert out[0]["n_days"] == 2
        assert out[0]["change_day"] == datetime.date(2024, 1, 1)
        assert out[0]["s_max_abs"] == "1000"

    def test_seasonal_trend_frame_ignores_null_value_days(self, spark):
        # A NULL-value day must not occupy a slot in the 7-observed-day
        # trend frame check while contributing nothing to the sum.
        import datetime

        from pyspark.sql import functions as F

        from ddataframeoperation_spark.operators.timeseries import (
            seasonal_decompose_weekly,
        )

        base = datetime.datetime(2024, 1, 1, 12, 0)
        rows = []
        for i in range(8):
            # day 3 exists but with a NULL value; 8 days total so the
            # non-null count is 7 and exactly one complete frame exists
            rows.append(
                ("g", base + datetime.timedelta(days=i),
                 None if i == 3 else 100.0)
            )
        df = spark.createDataFrame(rows, "grp string, ts timestamp, v double")
        out = seasonal_decompose_weekly(
            df, "ts", F.floor(F.col("v") * 100 + F.lit(0.5)).cast("long"), "grp"
        ).collect()
        days = {r["d"]: r for r in out}
        # the NULL day is gone entirely (not a 6-day sum masquerading)
        assert datetime.date(2024, 1, 4) not in days
        assert len(days) == 7
        framed = [r for r in out if r["trend_x7"] is not None]
        assert len(framed) == 1 and framed[0]["trend_x7"] == 7 * 10000

    def test_rfm_null_metric_rows_dropped_not_bucket_1(self, spark):
        import datetime

        from ddataframeoperation_spark.operators.relational import rfm_segments

        base = datetime.date(2024, 1, 1)
        rows = []
        for k in range(10):
            for j in range(k + 1):
                rows.append(
                    (k, base + datetime.timedelta(days=3 * k + j), 100.00)
                )
        # customer 99: all-NULL dates — must vanish, NOT rank bucket 1
        rows.append((99, None, 100.00))
        df = spark.createDataFrame(
            rows, "o_custkey int, o_orderdate date, o_totalprice double"
        )
        out = rfm_segments(df).collect()
        assert sum(r["n_customers"] for r in out) == 10
        assert all(1 <= r["r_bucket"] <= 5 for r in out)

    def test_brier_and_calibration_drop_nan_scores(self, spark):
        from ddataframeoperation_spark.operators.relational import (
            brier_decomposition,
            calibration_bins,
        )

        clean = [(0.1 * i, i % 2 == 0) for i in range(10)]
        df = spark.createDataFrame(
            clean + [(float("nan"), True)], "score double, label boolean"
        )
        b = brier_decomposition(df, "score", "label").collect()
        assert len(b) == 1 and b[0]["n"] == 10
        import math

        assert not math.isnan(b[0]["brier"])
        c = calibration_bins(df, "score", "label").collect()
        assert sum(r["n"] for r in c) == 10

    def test_wedge_degree_ignores_null_neighbors(self, spark):
        from ddataframeoperation_spark.operators.dedup import adamic_adar_pairs

        pairs = spark.createDataFrame(
            [(100, None), (100, 1), (100, 2)], "id_a long, id_b long"
        )
        out = adamic_adar_pairs(pairs, min_common=1).collect()
        # one wedge (1, 2) through center 100 whose TRUE degree is 2
        assert len(out) == 1
        r = out[0]
        assert (r["id_a"], r["id_b"], r["n_common"]) == (1, 2, 1)
        import math

        assert r["aa_score"] == round(1.0 / math.log(2.0), 4)
        # and with max_degree=2 the center must SURVIVE the hub guard
        guarded = adamic_adar_pairs(pairs, min_common=1, max_degree=2).collect()
        assert len(guarded) == 1


# ----------------------- r13 review fixes, pass 2: graph NULL contracts


@pytest.mark.usefixtures("spark")
class TestGraphNullContracts:
    """A NULL id in a node/edge/pair table must never distort what the
    REAL graph computes — equi-joins silently skip NULLs, but degree and
    normalization aggregates do NOT, which is exactly the asymmetry that
    produced the wedge-degree inflation fixed above. Pin the same
    contract on every graph operator."""

    def _pr(self, spark, edges_rows):
        from ddataframeoperation_spark.operators.dedup import pagerank

        nodes = spark.createDataFrame([(1,), (2,), (3,)], "id long")
        edges = spark.createDataFrame(edges_rows, "src long, dst long, w long")
        return sorted(
            (r["id"], r["rank_units"])
            for r in pagerank(nodes, edges, n_iter=3).collect()
        )

    def test_pagerank_null_edges_do_not_dilute_out_weight(self, spark):
        clean = self._pr(spark, [(1, 2, 1), (2, 3, 1)])
        # NULL dst used to count its w into W(1), halving 1->2's flow;
        # NULL src / NULL w edges and a NULL node id are pure garbage.
        dirty = self._pr(
            spark,
            [(1, 2, 1), (2, 3, 1), (1, None, 1), (None, 2, 1), (3, 1, None)],
        )
        assert dirty == clean
        assert all(i is not None for i, _ in dirty)

    def test_pagerank_null_node_id_dropped(self, spark):
        from ddataframeoperation_spark.operators.dedup import pagerank

        nodes = spark.createDataFrame([(1,), (2,), (None,)], "id long")
        edges = spark.createDataFrame([(1, 2, 1)], "src long, dst long, w long")
        out = pagerank(nodes, edges, n_iter=2).collect()
        assert sorted(r["id"] for r in out) == [1, 2]

    def test_hits_null_dst_does_not_deflate_l1_total(self, spark):
        from ddataframeoperation_spark.operators.dedup import hits

        nodes = spark.createDataFrame([(1,), (2,), (3,)], "id long")

        def run(rows):
            edges = spark.createDataFrame(rows, "src long, dst long, w long")
            return sorted(
                (r["id"], r["hub_units"], r["auth_units"])
                for r in hits(nodes, edges, n_iter=2).collect()
            )

        clean = run([(1, 2, 1), (3, 2, 1), (2, 3, 1)])
        # the NULL-dst edge's propagated mass used to count into the L1
        # total BEFORE the node join discarded it, deflating every score
        dirty = run(
            [(1, 2, 1), (3, 2, 1), (2, 3, 1), (1, None, 5), (None, 3, 2)]
        )
        assert dirty == clean

    def test_connected_components_drops_null_pairs_whole(self, spark):
        from ddataframeoperation_spark.operators.dedup import (
            connected_components,
        )

        pairs = spark.createDataFrame(
            [(1, 2), (None, 3)], "id_a long, id_b long"
        )
        out = sorted(
            (r["id"], r["component"])
            for r in connected_components(pairs).collect()
        )
        # no (NULL, NULL) garbage row; 3 is absent = singleton, the
        # reading every caller (left_anti keep, coalesce(component, id))
        # already applies
        assert out == [(1, 1), (2, 1)]

    def test_degree_census_ignores_null_endpoint_pairs(self, spark):
        from ddataframeoperation_spark.operators.dedup import (
            pair_degree_census,
        )

        pairs = spark.createDataFrame(
            [(1, 2), (1, 3), (None, 4)], "id_a long, id_b long"
        )
        rows = pair_degree_census(pairs).collect()
        hist = {r["degree"]: r["n_nodes"] for r in rows}
        assert hist == {1: 2, 2: 1}
        assert rows[0]["n_nodes_total"] == 3
        assert rows[0]["n_edges_total"] == 2
        assert rows[0]["max_degree"] == 2

    def test_triangle_count_already_null_safe(self, spark):
        # triangle_count's lo < hi canonicalization filter drops NULL
        # endpoints for free (NULL comparisons are NULL) — pin it so a
        # refactor can't lose the property.
        from ddataframeoperation_spark.operators.dedup import triangle_count

        pairs = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3), (None, 5)], "id_a long, id_b long"
        )
        r = triangle_count(pairs).collect()[0]
        # wedge generation is low-endpoint-rooted (each unordered wedge
        # counted once from its minimum vertex): the only wedge the
        # triangle contributes is (2, 3) rooted at 1.
        assert (r["n_edges"], r["n_wedges"], r["n_triangles"]) == (3, 1, 1)


# ------------------- r13 review fixes, pass 3: degenerate embeddings


@pytest.mark.usefixtures("spark")
class TestDegenerateEmbeddingContracts:
    """Corrupt embeddings (zero-norm, NaN element, NULL element) must
    lose every ranking and match no threshold — and must never kill the
    job. Under ANSI mode (the Spark 4 default) a zero-norm vector used
    to raise DIVIDE_BY_ZERO through cosine()'s plain division, and a
    NaN score used to rank ABOVE every real match (Spark's total order
    puts NaN > +inf) and to PASS `>= threshold` predicates."""

    def _emb(self, spark):
        rows = [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 0.0, 0.0]),        # zero-norm: cosine undefined
            (4, [float("nan"), 1.0, 0.0]),  # corrupt: NaN element
            (5, [None, 1.0, 0.0]),       # corrupt: NULL element
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_cosine_topk_degenerates_lose_and_never_crash(self, spark):
        from ddataframeoperation_spark.operators.similarity import (
            cosine_topk,
        )

        out = cosine_topk(self._emb(spark), [1.0, 0.0, 0.0], k=3).collect()
        # ids 1 and 2 are the only scorable rows; the three degenerate
        # rows rank BELOW them (NULL score) rather than hijacking top-1
        assert [r["vec_id"] for r in out[:2]] == [1, 2]
        assert out[0]["cos_sim"] == 1.0
        assert all(
            r["cos_sim"] is None for r in out if r["vec_id"] in (3, 4, 5)
        )

    def test_cosine_topk_multi_degenerates_lose(self, spark):
        from ddataframeoperation_spark.operators.similarity import (
            cosine_topk_multi,
        )

        queries = spark.createDataFrame(
            [(10, [1.0, 0.0, 0.0])], "query_id long, query_vec array<double>"
        )
        out = cosine_topk_multi(self._emb(spark), queries, k=2).collect()
        assert sorted(r["vec_id"] for r in out) == [1, 2]

    def test_neardup_pairs_degenerates_match_nothing_both_kernels(
        self, spark
    ):
        from cosine_reference import assert_rounded, neardup_pairs_reference
        from pyspark.sql import functions as F

        from ddataframeoperation_spark.operators.similarity import (
            cosine_neardup_pairs,
        )

        df = self._emb(spark).withColumn("blk", F.lit(0))
        got = {
            (r["id_a"], r["id_b"]): r["cos_sim"]
            for r in cosine_neardup_pairs(
                df, threshold=0.9, block_col="blk"
            ).collect()
        }
        want = neardup_pairs_reference(
            [tuple(r) for r in df.collect()], threshold=0.9
        )
        # only the (1, 2) pair clears 0.9; rows 3/4/5 pair with nothing
        assert got.keys() == want.keys() == {(1, 2)}
        assert_rounded(got[(1, 2)], want[(1, 2)])

    def test_neardup_pairs_drop_null_block_and_null_id(self, spark):
        from ddataframeoperation_spark.operators.similarity import (
            cosine_neardup_pairs,
        )

        # A NULL block key or a NULL id pairs with nothing, as in SQL's
        # ``a.blk = b.blk AND a.id < b.id``.
        df = spark.createDataFrame(
            [
                (1, [1.0, 0.0], None),
                (2, [1.0, 0.0], None),
                (3, [0.0, 1.0], "x"),
                (4, [0.0, 1.0], "x"),
                (None, [0.0, 1.0], "x"),
            ],
            "vec_id long, embedding array<double>, label string",
        )
        got = sorted(
            map(tuple, cosine_neardup_pairs(
                df, threshold=0.9, block_col="label"
            ).collect())
        )
        assert got == [(3, 4, 1.0)]

    def test_semantic_join_zero_norm_left_emits_nan_not_crash(self, spark):
        from cosine_reference import assert_rounded, semantic_join_reference

        from ddataframeoperation_spark.operators.similarity import (
            semantic_join,
        )

        left_rows = [(1, [1.0, 0.0]), (2, [0.0, 0.0])]
        right_rows = [(7, [1.0, 0.0]), (8, [0.0, 1.0])]
        left = spark.createDataFrame(
            left_rows, "vec_id long, embedding array<double>"
        )
        right = spark.createDataFrame(
            right_rows, "vec_id long, embedding array<double>"
        )
        cents = [[1.0, 0.0], [0.0, 1.0]]
        rows = {
            r["l_vec_id"]: r
            for r in semantic_join(left, right, cents, nprobe=2).collect()
        }
        want = semantic_join_reference(left_rows, right_rows)
        assert rows.keys() == want.keys()
        assert rows[1]["r_vec_id"] == 7 and rows[1]["cos_sim"] == 1.0
        # the zero-norm left row emits the documented NaN "no scorable
        # candidate" marker with the lowest right id — it must NOT raise
        assert rows[2]["r_vec_id"] == want[2][0] == 7
        for lid, (_, cos) in want.items():
            assert_rounded(rows[lid]["cos_sim"], cos)

    def test_centroid_assign_degenerate_lands_cell0(self, spark):
        from pyspark.sql import functions as F

        from ddataframeoperation_spark.operators.similarity import (
            centroid_assign,
        )

        df = self._emb(spark)
        out = {
            r["vec_id"]: r["cell"]
            for r in df.select(
                "vec_id",
                centroid_assign(
                    F.col("embedding"), [[0.0, 1.0, 0.0], [1.0, 0.0, 0.0]]
                ).alias("cell"),
            ).collect()
        }
        assert out[1] == 1 and out[2] == 1
        # zero-norm / NaN / NULL-element vectors: every cell ties as
        # "no score", index tiebreak -> deterministic cell 0
        assert out[3] == 0 and out[4] == 0 and out[5] == 0


# ---------------- r13 review fixes, pass 4: ANSI division-by-zero edges


@pytest.mark.usefixtures("spark")
class TestAnsiDivisionEdges:
    """Under ANSI mode (the Spark 4 default) a data-derived zero divisor
    raises DIVIDE_BY_ZERO and kills the whole job. Each case here is a
    legal-if-degenerate input that used to crash: the guard must answer
    NULL (or the documented convention), never raise."""

    def test_ks_test_one_sided_input_yields_null_d(self, spark):
        from ddataframeoperation_spark.operators.relational import ks_test

        df = spark.createDataFrame(
            [("a", float(i)) for i in range(5)], "g string, v double"
        )
        out = ks_test(df, "g", "v", group_a="a").collect()
        assert len(out) == 1
        r = out[0]
        # all mass on one side: per-row |cumA/n1 - cumB/n2| must not
        # raise on n2 = 0; the aggregate guard then reports NULL D
        assert (r["n_a"], r["n_b"]) == (5, 0)
        assert r["ks_d"] is None

    def test_rank_sum_single_observation_yields_null_z(self, spark):
        from ddataframeoperation_spark.operators.relational import (
            rank_sum_test,
        )

        df = spark.createDataFrame([("a", 1.0)], "g string, v double")
        out = rank_sum_test(df, "g", "v", group_a="a").collect()
        assert len(out) == 1
        # n = 1 makes the tie-correction divisor n*(n-1) = 0 while the
        # `var > 0` guard CONDITION evaluates it — must not raise
        assert out[0]["z"] is None

    def test_psi_categorical_empty_reference_side(self, spark):
        from ddataframeoperation_spark.operators.relational import (
            psi_drift_categorical,
        )

        ref = spark.createDataFrame([], "src string")
        cur = spark.createDataFrame(
            [("web",), ("web",), ("pdf",)], "src string"
        )
        rows = psi_drift_categorical(ref, cur, "src").collect()
        # empty side => its grand total is 0; proportions floor to eps
        # instead of raising, and every current category still reports
        assert {r["category"] for r in rows} == {"web", "pdf"}

    def test_twap_same_timestamp_key_yields_null(self, spark):
        import datetime

        from ddataframeoperation_spark.operators.timeseries import twap

        t0 = datetime.datetime(2024, 1, 1, 12, 0)
        df = spark.createDataFrame(
            [
                ("flat", t0, 1.0, 1),
                ("flat", t0, 3.0, 2),   # same microsecond: dt = 0
                ("live", t0, 10.0, 1),
                ("live", t0 + datetime.timedelta(seconds=60), 20.0, 2),
            ],
            "k string, ts timestamp, v double, seq int",
        )
        out = {
            r["k"]: r
            for r in twap(df, "k", "ts", "v", tiebreak_col="seq").collect()
        }
        # zero elapsed time has no time-weighted average — NULL, not a
        # job-killing DIVIDE_BY_ZERO
        assert out["flat"]["twap"] is None
        assert out["live"]["twap"] == 10.0


@pytest.mark.usefixtures("spark")
class TestRfmNanAmount:
    def test_nan_amount_rows_dropped_not_crash(self, spark):
        # floor(NaN*100+0.5) is NaN and casting NaN to long RAISES under
        # ANSI — a single corrupt amount used to kill the whole job.
        import datetime

        from ddataframeoperation_spark.operators.relational import rfm_segments

        base = datetime.date(2024, 1, 1)
        rows = []
        for k in range(8):
            for j in range(k + 1):
                rows.append(
                    (k, base + datetime.timedelta(days=3 * k + j), 50.00)
                )
        rows.append((99, base, float("nan")))
        df = spark.createDataFrame(
            rows, "o_custkey int, o_orderdate date, o_totalprice double"
        )
        out = rfm_segments(df).collect()
        assert sum(r["n_customers"] for r in out) == 8


# -------------- r13 review fixes, pass 5: asof-join NULL-ts contracts


@pytest.mark.usefixtures("spark")
class TestAsofNullTimestamps:
    """The asof family is a union-scan: rows sort on the time line and
    last(ignorenulls) carries the right side forward. A NULL timestamp
    has no position on that line — Spark sorts it BEFORE all time (asc)
    or AFTER all time (desc), so a NULL-ts right row used to donate its
    values to every left row before the first real quote, and a NULL-ts
    left row used to 'match' the earliest right row in forward/nearest
    scans. Both must yield NULL matches instead."""

    def _dfs(self, spark):
        import datetime

        t = lambda m: datetime.datetime(2024, 1, 1, 12, m)  # noqa: E731
        left = spark.createDataFrame(
            [(1, t(0), "early"), (1, t(30), "late"), (1, None, "lost")],
            "k long, lts timestamp, tag string",
        )
        right = spark.createDataFrame(
            [(1, None, 999.0), (1, t(10), 10.0)],
            "k long, rts timestamp, px double",
        )
        return left, right

    def test_backward_null_right_ts_never_matches(self, spark):
        from ddataframeoperation_spark.operators.asof import asof_join

        left, right = self._dfs(spark)
        out = {
            r["tag"]: r["px_asof"]
            for r in asof_join(
                left, right, "k", "lts", "rts", ["px"]
            ).collect()
        }
        # 'early' (12:00) precedes the only real quote (12:10): it used
        # to pick up the NULL-ts row's 999.0 — must be NULL
        assert out["early"] is None
        assert out["late"] == 10.0
        assert out["lost"] is None

    def test_forward_null_left_ts_keeps_null(self, spark):
        from ddataframeoperation_spark.operators.asof import asof_join

        left, right = self._dfs(spark)
        out = {
            r["tag"]: r["px_asof"]
            for r in asof_join(
                left, right, "k", "lts", "rts", ["px"],
                direction="forward",
            ).collect()
        }
        assert out["early"] == 10.0
        assert out["late"] is None       # nothing at-or-after 12:30
        assert out["lost"] is None       # NULL-ts left: no position

    def test_nearest_null_ts_rows_yield_null_match(self, spark):
        from ddataframeoperation_spark.operators.asof import (
            asof_join_nearest,
        )

        left, right = self._dfs(spark)
        rows = {
            r["tag"]: r
            for r in asof_join_nearest(
                left, right, "k", "lts", "rts", ["px"]
            ).collect()
        }
        assert rows["early"]["px_asof"] == 10.0
        assert rows["early"]["gap_us"] == -600 * 1_000_000
        assert rows["late"]["px_asof"] == 10.0
        assert rows["late"]["gap_us"] == 1200 * 1_000_000
        assert rows["lost"]["px_asof"] is None
        assert rows["lost"]["gap_us"] is None


# --------- r13 review fixes, pass 6: event-sequence NULL contracts


@pytest.mark.usefixtures("spark")
class TestEventSequenceNullContracts:
    def _events(self, spark):
        import datetime

        t = lambda m: datetime.datetime(2024, 1, 1, 12, m)  # noqa: E731
        rows = [
            (1, t(0), "a"),
            (1, t(1), "b"),
            (1, t(2), None),     # unlabeled mid-sequence event
            (1, t(3), "c"),
            (1, None, "z"),      # untimed event: would sort FIRST
            (2, t(0), "a"),
            (2, t(1), "b"),
        ]
        return spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string"
        )

    def test_transition_counts_null_label_is_not_a_terminal(self, spark):
        from ddataframeoperation_spark.operators.windows import (
            transition_counts,
        )

        got = {
            (r["from_type"], r["to_type"]): r["n"]
            for r in transition_counts(self._events(spark)).collect()
        }
        # user 1's clean sequence is a->b->c; the unlabeled event must
        # NOT make b a terminal, and 'z' (untimed) must not lead 'a'
        assert got == {
            ("a", "b"): 2,
            ("b", "c"): 1,
            ("c", None): 1,   # the ONLY terminal for user 1
            ("b", None): 1,   # user 2's genuine terminal
        }

    def test_top_paths_untimed_event_fabricates_no_prefix(self, spark):
        from ddataframeoperation_spark.operators.windows import top_paths

        got = {
            r["path"]: r["n"]
            for r in top_paths(self._events(spark), path_len=2).collect()
        }
        assert got == {"a > b": 2, "b > c": 1}

    def test_retention_cohorts_drops_untimed_events(self, spark):
        from ddataframeoperation_spark.operators.windows import (
            retention_cohorts,
        )

        out = retention_cohorts(
            self._events(spark), granularity="day"
        ).collect()
        # no phantom NULL-offset rows, no NULL cohort
        assert all(r["period_offset"] is not None for r in out)
        assert all(r["cohort"] is not None for r in out)


    def test_next_event_examples_drops_unlabeled_and_untimed(self, spark):
        from ddataframeoperation_spark.operators.windows import (
            next_event_examples,
        )

        got = {
            (r["context"], r["target"])
            for r in next_event_examples(
                self._events(spark), context=2
            ).collect()
        }
        # user 1: a->b->c after drops; user 2: a->b. The unlabeled event
        # must not occupy a frame slot and 'z' must not prefix anything.
        assert got == {("a", "b"), ("a b", "c")}
