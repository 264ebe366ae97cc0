"""Closing plan audit — scan EVERY registered query's executed plan for
scale red flags and print a census:

- CartesianProduct anywhere (hard fail);
- un-partitioned Window operators (must be the known constant/dimension-
  bounded allowlist, each with a written bound at its definition);
- BroadcastNestedLoopJoin that is not the Cross/BuildRight 1-row-scalar
  shape;
- plan-shape drift vs the committed golden census (VERDICT r12 task 7):
  per-query operator counts (exchanges, join strategies, windows,
  aggregates, sorts) must match tools/plan_golden.json exactly, so a
  future edit can't silently re-introduce a shuffle or swap a broadcast
  join for a sort-merge — shapes today's category checks only catch
  when they cross a hard-fail class.

Usage:
  python tools/plan_audit.py [sf_dir]             # audit + golden diff
  python tools/plan_audit.py --write-golden [sf_dir]   # regenerate golden

(default sf_dir sf0.001 — plan shapes, not timings, so the smallest
fixture is enough; the golden is only compared at that default, since
AQE/broadcast decisions are statistics-dependent and the census at
another SF is legitimately different.)

Streaming queries are skipped: their plans only materialize inside a
running query, and their state/watermark shapes are pinned by
tests/test_streaming.py instead.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ddataframeoperation_spark.queries import QUERIES  # noqa: E402
from ddataframeoperation_spark.session import get_spark  # noqa: E402

GOLDEN_PATH = Path(__file__).resolve().parent / "plan_golden.json"
GOLDEN_SF = "/root/testdata/sf0.001"

#: Operator markers counted into the per-query shape census. Substring /
#: regex over the executed-plan tree text — expression ids (#123) never
#: appear in these, so the census is stable across runs.
CENSUS_MARKERS: "list[tuple[str, str]]" = [
    ("shuffle_hash_exch", r"Exchange hashpartitioning"),
    ("shuffle_range_exch", r"Exchange rangepartitioning"),
    ("shuffle_single_exch", r"Exchange SinglePartition"),
    ("broadcast_exch", r"BroadcastExchange"),
    ("reused_exch", r"ReusedExchange"),
    ("sort_merge_join", r"SortMergeJoin"),
    ("broadcast_hash_join", r"BroadcastHashJoin"),
    ("shuffled_hash_join", r"ShuffledHashJoin"),
    ("bnl_join", r"BroadcastNestedLoopJoin"),
    ("cartesian", r"CartesianProduct"),
    ("window", r"\bWindow \["),
    ("window_group_limit", r"WindowGroupLimit"),
    ("hash_agg", r"\bHashAggregate\("),
    ("object_hash_agg", r"ObjectHashAggregate\("),
    ("sort_agg", r"\bSortAggregate\("),
    ("sort", r"\bSort \["),
    ("python_map", r"MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas"),
    ("python_eval", r"ArrowEvalPython|BatchEvalPython"),
]


def plan_census(plan: str) -> dict[str, int]:
    """Count the drift-relevant operator markers; zero entries dropped so
    the golden stays readable."""
    out = {}
    for key, pat in CENSUS_MARKERS:
        n = len(re.findall(pat, plan))
        if n:
            out[key] = n
    return out

#: Un-partitioned windows that are allowed because their input is
#: constant- or pre-limit-bounded (bound documented at the definition).
GLOBAL_WINDOW_ALLOWLIST = {
    "b15_sort_null_ordering",   # pre-limited <=2000 keys (queries.py)
    "b16_skyline_2d",           # <=1024-row cross-bucket prefix table
    "b19_abc_classification",   # <=1024-row cross-bucket prefix table (r7)
    "b34_token_ids",            # vocabulary table (min_df-bounded)
    "b34_vocabulary",           # vocabulary ranking (top-k bounded)
    "b33_hybrid_rrf",           # two top-10 candidate lists
    "b12_heavy_hitters",        # sketch output (<= tracked-capacity rows)
    "b22_temperature_mix",      # |distinct sources|-row quota table
    # The rank-statistics family: each has one <=512-row cross-bucket
    # offset table (relational._cumulative_by_value).
    "b11_rank_sum_test",
    "b11_ks_test",
    "b28_auc_exact",
    "b28_pr_auc",
    "b11_weighted_percentiles",
}

#: BroadcastNestedLoopJoin shapes beyond the 1-row Cross/BuildRight
#: scalar: allowed only when the build side is a bounded literal table.
BNLJ_ALLOWLIST = {
    "b18_scd2_asof",            # 3-row literal probe-instant dim,
                                # interval-containment condition
    "b12_hll_overlap",          # scalar x scalar: every join input is a
                                # 1-row global sketch/count aggregate
                                # (Spark may pick BuildLeft, which the
                                # textual 1-row-scalar check can't see)
    "b12_bloom_rf",             # scalar x scalar x scalar: the three
                                # crossJoined inputs are 1-row count
                                # aggregates (build keys / key flags /
                                # row flags)
}


def main() -> int:
    import os

    args = [a for a in sys.argv[1:] if a != "--write-golden"]
    write_golden = "--write-golden" in sys.argv[1:]
    sf = args[0] if args else GOLDEN_SF
    at_golden_sf = os.path.normpath(sf) == os.path.normpath(GOLDEN_SF)
    if write_golden and not at_golden_sf:
        # A golden pinned at another SF would poison every future gate
        # run with mass spurious DRIFT (AQE/broadcast decisions are
        # statistics-dependent) — refuse before burning 287 plan builds.
        print(
            f"ERROR --write-golden only at {GOLDEN_SF} (got {sf}); "
            "plan shapes at other SFs are legitimately different"
        )
        return 1
    spark = get_spark("plan_audit")
    cartesian, bad_bnlj, global_windows, errors = [], [], [], []
    censuses: dict[str, dict[str, int]] = {}
    n = 0
    for name, fn in QUERIES.items():
        if "stream" in name:
            continue
        try:
            plan = str(fn(spark, sf)._jdf.queryExecution().executedPlan())
        except Exception as exc:  # noqa: BLE001
            errors.append((name, f"{type(exc).__name__}: {exc}"[:160]))
            continue
        n += 1
        censuses[name] = plan_census(plan)
        if "CartesianProduct" in plan:
            cartesian.append(name)
        bnlj = plan.count("BroadcastNestedLoopJoin")
        if (
            bnlj != plan.count("BroadcastNestedLoopJoin BuildRight, Cross")
            and name not in BNLJ_ALLOWLIST
        ):
            bad_bnlj.append(name)
        # A window spec whose first element is neither a partition column
        # list ending before ORDER nor the bounded-table _bkt marker:
        # detect un-partitioned specs = spec starts with an order column
        # (contains '#' before any partition separator) — conservative
        # textual check: Spark prints partition cols first; a spec that
        # begins with "windowspecdefinition(<col> ASC|DESC" with no
        # preceding partition list is global. Partitioned specs begin
        # with "windowspecdefinition(<pcol>#id, <ocol># ASC/DESC".
        for spec in re.findall(r"windowspecdefinition\(([^)]*)", plan):
            first = spec.split(",")[0].strip()
            if first.startswith("specifiedwindowframe"):
                # frame-only spec: un-partitioned AND un-ordered —
                # aggregates over a bounded table (e.g. grand totals).
                if name not in GLOBAL_WINDOW_ALLOWLIST:
                    global_windows.append((name, "frame-only"))
                continue
            if re.match(r"^\S+#\d+L? (ASC|DESC)", first):
                # first element already carries a sort direction => no
                # partition columns => global sort window.
                if name not in GLOBAL_WINDOW_ALLOWLIST:
                    global_windows.append((name, first[:60]))
    print(f"audited {n} batch plans ({len(errors)} errors)")
    print(f"CartesianProduct: {cartesian or 'NONE'}")
    print(f"non-scalar BroadcastNestedLoopJoin: {bad_bnlj or 'NONE'}")
    if global_windows:
        print("un-partitioned windows OUTSIDE allowlist:")
        for name, spec in sorted(set(global_windows)):
            print(f"  {name}: {spec}")
    else:
        print("un-partitioned windows outside allowlist: NONE")
    for name, err in errors:
        print(f"  ERROR {name}: {err}")

    drift = []
    if write_golden:
        GOLDEN_PATH.write_text(
            json.dumps(
                {"sf": GOLDEN_SF, "censuses": censuses}, indent=1, sort_keys=True
            )
        )
        print(f"golden plan census written: {GOLDEN_PATH} ({len(censuses)} plans)")
    elif at_golden_sf and GOLDEN_PATH.exists():
        payload = json.loads(GOLDEN_PATH.read_text())
        if os.path.normpath(payload.get("sf", "")) != os.path.normpath(GOLDEN_SF):
            print(
                f"ERROR golden census was written at sf={payload.get('sf')!r}, "
                f"not {GOLDEN_SF} — regenerate with --write-golden"
            )
            return 1
        golden = payload["censuses"]
        for name, got in censuses.items():
            want = golden.get(name)
            if want is None:
                # New query: not a failure (the golden predates it), but
                # loudly demand a regeneration so it gets pinned.
                print(f"warn  golden: NEW query {name} — rerun --write-golden")
                continue
            if got != want:
                drift.append(name)
                delta = {
                    k: (want.get(k, 0), got.get(k, 0))
                    for k in sorted(set(want) | set(got))
                    if want.get(k, 0) != got.get(k, 0)
                }
                print(f"DRIFT {name}: golden->now {delta}")
        # Stale golden entries (query removed or renamed): the pinned
        # shape silently stops protecting anything — demand a regen.
        for name in sorted(set(golden) - set(censuses)):
            print(f"warn  golden: STALE entry {name} — rerun --write-golden")
        print(
            f"plan-shape drift vs golden: {drift or 'NONE'} "
            f"({len(censuses)} plans checked)"
        )
    elif at_golden_sf:
        print("warn  no golden plan census — run --write-golden to pin shapes")

    return 1 if (cartesian or global_windows or errors or drift) else 0


if __name__ == "__main__":
    raise SystemExit(main())
